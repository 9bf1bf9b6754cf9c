"""High-level API mirroring aduana's Python surface (SURVEY.md §2.11;
reference: /root/reference/aduana/__init__.py).

The reference exposes ``PageDB`` (add/page_info/iter_page_info),
``PageRankScorer``/``HitsScorer`` (damping, use_content_scores),
``BFScheduler`` (add/requests/set_crawl_rate/set_max_crawl_depth) and
``FreqScheduler``. Here the same names become thin facades over the
DataFrame engine: state lives in parquet-backed DataFrames, scores
come from the iterative jobs, and ``requests`` is the frontier view.

This is deliberately a *facade*, not the engine: at production scale
each method is a Spark job over Iceberg tables; at fixture scale it
drives the same code paths the tests gate.
"""

from __future__ import annotations

import datetime as dt
import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aduana_spark.frontier.bf_scheduler import BFSchedulerView, frontier_topk
from aduana_spark.frontier.page_info import (
    cached_batch,
    empty_page_info,
    ingest_crawl_batch,
)
from aduana_spark.functions.urls import url_hash_col
from aduana_spark.graph.builder import edges_with_ids
from aduana_spark.graph.hits import hits as hits_job
from aduana_spark.graph.pagerank import pagerank as pagerank_job


@dataclass
class CrawledPage:
    """Mirror of aduana.CrawledPage (aduana/__init__.py:33-106)."""

    url: str
    links: list[tuple[str, float]]
    score: float = 0.0
    hash: bytes | None = None
    time: dt.datetime | None = None


class PageDB:
    """Mirror of aduana.PageDB (aduana/__init__.py:159-232): page-state
    store + link graph, backed by DataFrames instead of LMDB."""

    # crawl_order is 64-bit: streaming ingest derives it from
    # monotonically_increasing_id(), whose upper bits carry the
    # partition index — an INT cast would collide across partitions
    # and make within-batch first-writer-wins nondeterministic
    BATCH_SCHEMA = (
        "crawl_order BIGINT, url STRING, "
        "links ARRAY<STRUCT<url: STRING, score: DOUBLE>>, "
        "page_score DOUBLE, content_hash BINARY, ts TIMESTAMP"
    )

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.page_info = empty_page_info(spark)
        self.edges = spark.createDataFrame([], "src_url STRING, dst_url STRING")
        self._order = 0

    @staticmethod
    def urlhash(url: str) -> int:
        """64-bit page id. The reference uses
        XXH32(domain)<<32|XXH32(url) (page_db.c:502-514) for key
        locality; we use xxhash64(url) — locality comes from the
        domain column (functions/urls.py)."""
        import pyspark.sql.functions as F  # noqa: F811

        # computed JVM-side for consistency with the engine's id columns
        raise NotImplementedError(
            "use url_hash_col on a DataFrame; driver-side scalar hashing "
            "is not part of the engine surface"
        )

    def pages_batch(self, pages: list[CrawledPage]) -> DataFrame:
        """Crawl batch in BATCH_SCHEMA, one row per page in list order:
        ``crawl_order`` numbers the pages consecutively, so the MERGE's
        within-batch first-writer-wins follows arrival order."""
        default_ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        rows = [
            (
                self._order + i,
                page.url,
                [(u, float(s)) for u, s in page.links],
                float(page.score),
                page.hash or b"",
                (page.time or default_ts).replace(tzinfo=None),
            )
            for i, page in enumerate(pages)
        ]
        self._order += len(pages)
        return self.spark.createDataFrame(rows, schema=self.BATCH_SCHEMA)

    def page_batch(self, page: CrawledPage) -> DataFrame:
        """One-row crawl batch in BATCH_SCHEMA from a CrawledPage."""
        return self.pages_batch([page])

    def add_batch(self, batch: DataFrame) -> DataFrame:
        """page_db_add (page_db.c:807-1016) for a whole batch: one
        MERGE into page_info + an edge-log append. Returns the batch's
        newly created crawlable pages (the schedule insertions) so a
        scheduler sharing this PageDB ingests each batch exactly
        once."""
        with cached_batch(batch):
            new_info, new_sched = ingest_crawl_batch(self.page_info, batch)
            # localCheckpoint (not persist+count): each batch's plan embeds
            # the previous state's plan, so without truncation Catalyst
            # re-analyzes a deepening tree and per-batch cost grows
            # super-linearly (~5s → 30s within 10 batches, measured)
            self.page_info = new_info.localCheckpoint()
            new_edges = batch.select(
                F.col("url").alias("src_url"),
                F.explode("links").alias("l"),
            ).select("src_url", F.col("l.url").alias("dst_url"))
            self.edges = self.edges.unionByName(new_edges).localCheckpoint()
        return new_sched

    def add(self, page: CrawledPage) -> None:
        """Single-page convenience over ``add_batch``."""
        self.add_batch(self.page_batch(page))

    def get_info(self, url: str):
        """S7 point lookup (page_db.c:1018-1067)."""
        rows = self.page_info.where(F.col("url") == url).collect()
        return rows[0] if rows else None

    def iter_page_info(self):
        """S4 page-info scan (page_db.c:1377-1441)."""
        for r in self.page_info.toLocalIterator():
            yield r

    def id_edges(self) -> DataFrame:
        """Dedup'd (src, dst) LONG edges (S2 link stream analog)."""
        e = self.edges.dropDuplicates(["src_url", "dst_url"])
        v = (
            e.select(F.col("src_url").alias("url"))
            .unionAll(e.select(F.col("dst_url").alias("url")))
            .distinct()
            .select(url_hash_col("url").alias("id"), "url")
        )
        return edges_with_ids(e, v)

    # ---- S12/S13: path + neighborhood scans ------------------------------

    def backlink_path(self, url: str, max_hops: int = 100) -> list[str]:
        """S12 (page_db_path.c:12-54): follow linked_from provenance up
        to the seed. Driver loop of point lookups — O(depth) tiny jobs,
        exactly like the reference's cursor walk."""
        path = [url]
        seen = {url}
        cur = url
        for _ in range(max_hops):
            row = self.get_info(cur)
            if row is None or row["linked_from"] is None:
                break
            cur = row["linked_from"]
            if cur in seen:
                break
            path.append(cur)
            seen.add(cur)
        return path

    def neighborhood(self, url: str) -> DataFrame:
        """S13 (page_db_links.c:64-155): forward + backward neighbors
        with URLs; one filtered union over the URL edge table."""
        fwd = self.edges.where(F.col("src_url") == url).select(
            F.lit("out").alias("direction"), F.col("dst_url").alias("url")
        )
        bwd = self.edges.where(F.col("dst_url") == url).select(
            F.lit("in").alias("direction"), F.col("src_url").alias("url")
        )
        return fwd.unionAll(bwd)

    def info_dump(self) -> DataFrame:
        """S8 (page_db.c:1263-1334): human-readable page-state table."""
        return self.page_info.select(
            url_hash_col("url").alias("hash"),
            "url",
            "first_crawl",
            "last_crawl",
            "n_changes",
            "n_crawls",
            "depth",
            "score",
        )

    def links_dump(self) -> DataFrame:
        """S9 (page_db.c:1336-1354): edge-list dump."""
        return self.id_edges()

    def find(self, regex: str) -> DataFrame:
        """S11 (page_db_find.c): regex URL scan."""
        return self.page_info.where(F.col("url").rlike(regex)).select("url")


class PageRankScorer:
    """Mirror of aduana.PageRankScorer (aduana/__init__.py:236-290)."""

    def __init__(self, page_db: PageDB, damping: float = 0.85,
                 use_content_scores: bool = False, precision: float = 1e-4):
        self.page_db = page_db
        self.damping = damping
        self.use_content_scores = use_content_scores
        self.precision = precision
        self._ranks: DataFrame | None = None

    def update(self, checkpoint: str | None = None) -> None:
        edges = self.page_db.id_edges()
        scores = None
        if self.use_content_scores:
            scores = self.page_db.page_info.select(
                url_hash_col("url").alias("id"), F.col("score")
            )
        res = pagerank_job(
            edges,
            damping=self.damping,
            precision=self.precision,
            scores=scores,
            checkpoint=checkpoint,
        )
        self._ranks = res.ranks

    def scores(self) -> DataFrame:
        """(url, score) for the frontier view; new pages default 0.0
        (scorer->add returns 0, page_rank_scorer.c:94-98)."""
        assert self._ranks is not None, "call update() first"
        v = self.page_db.page_info.select(
            "url", url_hash_col("url").alias("id")
        )
        return v.join(self._ranks, "id", "left").select(
            "url", F.coalesce("rank", F.lit(0.0)).alias("score")
        )


class HitsScorer:
    """Mirror of aduana.HitsScorer (aduana/__init__.py:292-334); the
    scheduler score is the authority value (hits_scorer.c:109-112)."""

    def __init__(self, page_db: PageDB, use_content_scores: bool = False,
                 precision: float = 1e-4):
        self.page_db = page_db
        self.use_content_scores = use_content_scores
        self.precision = precision
        self._ranks: DataFrame | None = None

    def update(self, checkpoint: str | None = None) -> None:
        edges = self.page_db.id_edges()
        scores = None
        if self.use_content_scores:
            scores = self.page_db.page_info.select(
                url_hash_col("url").alias("id"), F.col("score")
            )
        res = hits_job(
            edges, precision=self.precision, scores=scores, checkpoint=checkpoint
        )
        self._ranks = res.ranks

    def scores(self) -> DataFrame:
        assert self._ranks is not None, "call update() first"
        v = self.page_db.page_info.select("url", url_hash_col("url").alias("id"))
        return v.join(self._ranks, "id", "left").select(
            "url", F.coalesce("auth", F.lit(0.0)).alias("score")
        )


class BFScheduler(BFSchedulerView):
    """Mirror of aduana.BFScheduler (aduana/__init__.py:365-465):
    best-first frontier with optional scorer re-keying. ``requests``
    pops from the view; after ``scorer.update()`` the schedule is
    re-keyed from the converged score table (the reference's
    update-thread batches, bf_scheduler.c:401-487, become one join).
    Politeness (``set_crawl_rate`` + geometric escalation) and
    ``set_update_interval`` come from the view base class."""

    def __init__(
        self,
        spark: SparkSession,
        scorer=None,
        max_depth: int | None = None,
        page_db: PageDB | None = None,
    ):
        super().__init__(spark, max_depth=max_depth, page_db=page_db)
        self.scorer = scorer
        self._pages_since_update = 0
        # cumulative pages-added snapshot at the last score update —
        # the reference's n_pages_old (bf_scheduler.c:539-548 keeps
        # cumulative n_pages_new/n_pages_old counters; deriving n_old
        # from the distinct crawled-page count undercounts when a
        # batch RE-crawls existing pages, firing the 1%-growth gate
        # too eagerly). A scheduler opened over an EXISTING PageDB
        # seeds the base from the persisted crawled pages — the
        # reference's reload path does the same (bf_scheduler.c:329
        # adds n_reloaded_pages into n_pages_new), so a restart over
        # 100k pages requires ~1k new pages before the next recompute
        # instead of re-firing on every >=100-page batch
        self._pages_added_total = 0
        if page_db is not None:
            self._pages_added_total = (
                page_db.page_info.where(F.col("n_crawls") > 0).count()
            )
        self._last_update_time: float | None = None

    @classmethod
    def from_settings(
        cls, spark: SparkSession, settings: dict, page_db: PageDB | None = None
    ) -> "BFScheduler":
        """Settings surface of BFScheduler.from_settings
        (aduana/__init__.py:416-443, keys doc/python.rst:60-99):
        SCORER (class, e.g. PageRankScorer), USE_SCORES,
        PAGE_RANK_DAMPING (0.85), SOFT_CRAWL_LIMIT (0.25),
        HARD_CRAWL_LIMIT (100.0), MAX_CRAWL_DEPTH,
        SCORE_UPDATE_INTERVAL."""
        db = page_db if page_db is not None else PageDB(spark)
        scorer_class = settings.get("SCORER", None)
        scorer = None
        if scorer_class is not None:
            scorer = scorer_class(db)
            use_scores = settings.get("USE_SCORES", False)
            if use_scores:
                if scorer_class is PageRankScorer:
                    scorer.damping = settings.get("PAGE_RANK_DAMPING", 0.85)
                scorer.use_content_scores = use_scores
        sch = cls(spark, scorer=scorer, page_db=db)
        sch.set_crawl_rate(
            settings.get("SOFT_CRAWL_LIMIT", 0.25),
            settings.get("HARD_CRAWL_LIMIT", 100.0),
        )
        max_depth = settings.get("MAX_CRAWL_DEPTH", None)
        if max_depth:
            sch.set_max_crawl_depth(max_depth)
        update_interval = settings.get("SCORE_UPDATE_INTERVAL", None)
        if update_interval:
            sch.set_update_interval(update_interval)
        return sch

    def set_max_crawl_depth(self, d: int) -> None:
        self.max_depth = d or None

    def add(self, batch: DataFrame) -> None:
        # count pages, not batches: the reference's update gate
        # (bf_scheduler.c:537-549, BF_SCHEDULER_UPDATE_NUM_PAGES) counts
        # crawled pages added, and one add() batch may hold many
        n = batch.count()
        super().add(batch)
        self._pages_since_update += n
        self._pages_added_total += n

    def maybe_update(self, now: float | None = None) -> bool:
        """The reference's update thread (bf_scheduler.c:537-549 +
        update_interval): recompute scores when enough new pages
        arrived and the interval elapsed. Returns True if an update
        ran."""
        import time as _time

        from aduana_spark.frontier.domain_temp import update_due

        now = now if now is not None else _time.time()
        if self.update_interval is not None and self._last_update_time is not None:
            if now - self._last_update_time < self.update_interval:
                return False
        # cumulative counters, mirroring the reference's
        # n_pages_old = n_pages_new snapshot (bf_scheduler.c:539-548):
        # n_old counts every page-add before the last update,
        # recrawls included, so a batch that re-crawls existing pages
        # does not shrink the base of the 1%-growth gate
        n_old = self._pages_added_total - self._pages_since_update
        if not update_due(n_old, self._pages_since_update):
            return False
        self.update_scores()
        self._last_update_time = now
        self._pages_since_update = 0
        return True

    def update_scores(self) -> None:
        """U2: re-key schedule entries from the scorer's converged
        score table (delete+insert per entry in the reference; one
        join here)."""
        if self.scorer is None:
            return
        self.scorer.update()
        new = self.scorer.scores()
        self.schedule = (
            self.schedule.drop("score")
            .join(new, "url", "left")
            .select("url", F.coalesce("score", F.lit(0.0)).alias("score"))
            .localCheckpoint()
        )


@dataclass
class _QueuedGet:
    """One ``get_next_requests`` call waiting for its round."""

    n: int
    urls: list[str] | None = None
    error: BaseException | None = None

    @property
    def done(self) -> bool:
        return self.urls is not None or self.error is not None

    def result(self) -> list[str]:
        if self.error is not None:
            raise self.error
        return self.urls


class Backend:
    """Mirror of the Frontera backend
    (/root/reference/aduana/frontera.py:12-79): seeds become sentinel
    '_seed_{n}' pages whose outlinks are the real seed URLs (score
    default 1.0); crawled pages feed the scheduler; requests pop the
    frontier view.

    Crawled pages are group-committed. ``page_crawled`` only appends
    the page to an in-memory buffer: returning means "accepted into
    the commit buffer", not "merged". ``get_next_requests`` and
    ``flush`` commit the whole buffer as one crawl batch (one MERGE
    and one round of checkpoints) before anything reads page state,
    so page state becomes visible at the next GET or ``flush()``.
    Page state, schedule and pop order equal those of ingesting each
    page alone: the buffer is committed early when a page repeats a
    buffered crawl (``n_crawls`` must count both) or was linked from a
    buffered page (it must take that page's ``depth + 1`` and
    ``linked_from``), and when it holds ``MAX_PENDING`` pages, which
    bounds its memory. A commit that fails raises ``RuntimeError``
    naming how many buffered pages it held; those pages are lost, just
    as a process crash loses the in-memory ``page_info``.

    GETs are served in rounds: the GETs that queued while the Spark
    work of an earlier round (or a flush) ran are served together by
    one commit and one frontier pop (see ``get_next_requests``).

    Methods are thread-safe. One lock serializes the Spark work
    (commit, seed ingest, pops), so a buffered ``page_crawled`` never
    waits for it. ``metrics()`` reads the ingest and round counters."""

    #: pages buffered before ``page_crawled`` commits inline
    MAX_PENDING = 1000

    def __init__(self, spark: SparkSession, scorer=None, max_depth: int | None = None):
        self.page_db = PageDB(spark)
        # scheduler and PageDB share one page-info store: each crawl
        # batch is ingested exactly once (the round-1 facade ran the
        # same merge twice, doubling per-page jobs)
        self.scheduler = BFScheduler(
            spark, scorer=scorer, max_depth=max_depth, page_db=self.page_db
        )
        self._n_seeds = 0
        # lock order: _spark_lock before _lock
        self._spark_lock = threading.Lock()
        self._lock = threading.Lock()
        self._pending: dict[str, CrawledPage] = {}  # url -> page, arrival order
        self._pending_links: set[str] = set()
        self._queued: list[_QueuedGet] = []  # GETs for the next round, arrival order
        self._leading = False  # a GET is leading a round
        self._round_done = threading.Condition(self._lock)
        self._counts = {
            "pages_committed": 0,
            "commits": 0,
            "commit_seconds": 0.0,
            "get_rounds": 0,
            "gets_served": 0,
        }

    def _take_pending(self) -> list[CrawledPage]:
        """Empty the commit buffer; the caller holds _lock."""
        pages = list(self._pending.values())
        self._pending, self._pending_links = {}, set()
        return pages

    def _commit(self, pages: list[CrawledPage]) -> None:
        """Commit taken pages as one batch; the caller holds _spark_lock."""
        if not pages:
            return
        t0 = time.perf_counter()
        try:
            self.scheduler.add(self.page_db.pages_batch(pages))
        except Exception as e:
            raise RuntimeError(
                f"commit of {len(pages)} buffered pages failed, "
                f"they are lost: {e}"
            ) from e
        with self._lock:
            self._counts["pages_committed"] += len(pages)
            self._counts["commits"] += 1
            self._counts["commit_seconds"] += time.perf_counter() - t0

    def flush(self) -> None:
        """Commit every buffered crawled page now."""
        with self._spark_lock:
            with self._lock:
                pages = self._take_pending()
            self._commit(pages)

    def add_seeds(self, seed_urls: list[str], scores: list[float] | None = None) -> None:
        scores = scores or [1.0] * len(seed_urls)
        with self._spark_lock:
            with self._lock:
                pages = self._take_pending()
            self._commit(pages)  # pages posted before the seeds go first
            seed = CrawledPage(
                url=f"_seed_{self._n_seeds}", links=list(zip(seed_urls, scores))
            )
            self._n_seeds += 1
            self.scheduler.add(self.page_db.page_batch(seed))

    def page_crawled(self, url: str, links: list[tuple[str, float]],
                     score: float = 0.0, content_hash: bytes | None = None) -> None:
        page = CrawledPage(url=url, links=links, score=score, hash=content_hash)
        while True:
            with self._lock:
                if not (
                    url in self._pending
                    or url in self._pending_links
                    or len(self._pending) >= self.MAX_PENDING
                ):
                    self._pending[url] = page
                    self._pending_links.update(u for u, _ in links)
                    return
            self.flush()

    def request_error(self, url: str, error) -> None:
        """The reference ignores errors (frontera.py:60-61); the view
        recomputation makes retry automatic (U4)."""

    def metrics(self) -> dict[str, float]:
        """Ingest and round counters since start-up: pages in the
        commit buffer now, pages committed from it, its commits and
        their total seconds (seed ingest not counted), GET rounds run
        and the GETs they served (GETs per round above 1 means rounds
        shared their Spark work)."""
        with self._lock:
            return {"pages_buffered": len(self._pending), **self._counts}

    def get_next_requests(self, max_n_requests: int) -> list[str]:
        """Pop up to ``max_n_requests`` URLs after committing the buffer.

        Concurrent calls are served in rounds. A call queues itself;
        if no round is running it leads the next one, otherwise it
        waits on ``_round_done`` (not on the Spark lock, which is not
        FIFO: a call already served could sit through another round
        waiting for it). The leader takes the Spark lock, then, under
        one ``_lock`` acquisition, the queue and the commit buffer.
        Taking the queue no later than the buffer puts every page a
        queued caller posted before its GET into this commit. It
        commits once, pops ``Σn`` URLs with one ``scheduler.requests``
        and hands each queued call its slice in arrival order. If the
        commit or the pop raises, every call of the round raises that
        error. Calls that queue during a round wait for the next one.

        A round returns what its calls would get one after another
        with no commit between them, with the commit first. The view
        pops in the total order (score DESC, xxhash64(url) ASC), and
        the depth gate does not change between the calls. With a
        crawl rate armed each call escalates its domain limit
        soft→hard; the domains each step admits are a superset of the
        previous step's, and a pop does not change ``crawl_log``, so
        the temperatures and ``now`` are the same for every call.
        When one call stops at step j, every earlier step's admitted
        set is used up, so the next call finds nothing before step j
        and continues at step j where the one pop would. The slices of
        one ``Σn`` pop are therefore the sequential calls' answers."""
        get = _QueuedGet(max(max_n_requests, 0))
        with self._lock:
            self._queued.append(get)
            while self._leading and not get.done:
                self._round_done.wait()
            if get.done:
                return get.result()
            self._leading = True
        try:
            self._serve_round()
        finally:
            with self._lock:
                self._leading = False
                self._round_done.notify_all()
        return get.result()

    def _serve_round(self) -> None:
        """Serve every queued GET as one round; the caller leads it."""
        with self._spark_lock:
            with self._lock:
                round_, self._queued = self._queued, []
                pages = self._take_pending()
            try:
                self._commit(pages)
                urls = self.scheduler.requests(sum(g.n for g in round_))
            except BaseException as e:
                with self._lock:
                    for g in round_:
                        g.error = e
                raise
            with self._lock:
                start = 0
                for g in round_:
                    g.urls = urls[start:start + g.n]
                    start += g.n
                self._counts["get_rounds"] += 1
                self._counts["gets_served"] += len(round_)
