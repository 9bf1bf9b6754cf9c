"""High-level API mirroring aduana's Python surface (SURVEY.md §2.11;
reference: /root/reference/aduana/__init__.py).

The reference exposes ``PageDB`` (add/page_info/iter_page_info),
``PageRankScorer``/``HitsScorer`` (damping, use_content_scores),
``BFScheduler`` (add/requests/set_crawl_rate/set_max_crawl_depth) and
``FreqScheduler``. Here the same names become thin facades over the
DataFrame engine: state lives in parquet-backed DataFrames, scores
come from the iterative jobs, and ``requests`` is the frontier view.
``PageDB`` and ``CrawledPage`` live with the ingest MERGE in
``frontier.page_info`` and are re-exported here.

This is deliberately a *facade*, not the engine: at production scale
each method is a Spark job over Iceberg tables; at fixture scale it
drives the same code paths the tests gate.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aduana_spark.frontier import page_info
from aduana_spark.frontier.bf_scheduler import BFSchedulerView
from aduana_spark.frontier.page_info import CrawledPage, Kept, PageDB
from aduana_spark.functions.urls import url_hash_col
from aduana_spark.graph.hits import hits as hits_job
from aduana_spark.graph.pagerank import pagerank as pagerank_job


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


def scorer_from_settings(settings: dict, page_db: PageDB):
    """The scorer the settings ask for over ``page_db``, or None:
    SCORER (class, e.g. PageRankScorer); USE_SCORES turns content
    scores on and, for a PageRankScorer, applies PAGE_RANK_DAMPING
    (0.85)."""
    scorer_class = settings.get("SCORER", None)
    if scorer_class is None:
        return None
    scorer = scorer_class(page_db)
    if settings.get("USE_SCORES", False):
        scorer.use_content_scores = True
        if isinstance(scorer, PageRankScorer):
            scorer.damping = settings.get("PAGE_RANK_DAMPING", 0.85)
    return scorer


class BFScheduler(BFSchedulerView):
    """Mirror of aduana.BFScheduler (aduana/__init__.py:365-465):
    best-first frontier with optional scorer re-keying. ``requests``
    pops from the view; ``update_scores`` re-keys it with the
    converged score table (the reference's update-thread batches,
    bf_scheduler.c:401-487, become one overlay join).
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
        # instead of re-firing on every >=100-page batch. Counted on
        # the driver when the store keeps page_info as Arrow
        self._pages_added_total = 0
        if page_db is not None:
            table = page_db.kept("page_info")
            self._pages_added_total = (
                pc.sum(pc.greater(table["n_crawls"], 0)).as_py() or 0
                if table is not None
                else page_db.page_info.where(F.col("n_crawls") > 0).count()
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
        sch = cls(spark, scorer=scorer_from_settings(settings, db), page_db=db)
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

    def add(self, batch: DataFrame | pa.Table) -> None:
        # count pages, not batches: the reference's update gate
        # (bf_scheduler.c:537-549, BF_SCHEDULER_UPDATE_NUM_PAGES) counts
        # crawled pages added, and one add() batch may hold many. The
        # commit counted them to pick its executor
        super().add(batch)
        n = self.page_db.last_commit.pages
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
        """U2: re-key the schedule from the scorer's converged score
        table (delete+insert per entry in the reference). The scores
        become the overlay of the schedule view: each page known now
        is served at its scorer score, and pages discovered later at
        their link score until the next re-key. While the store's
        page_info is within ``LOCAL_MAX_ROWS`` the scores are fetched
        once and kept as Arrow for the driver pop; larger tables are
        checkpointed."""
        if self.scorer is None:
            return
        self.scorer.update()
        scores = self.scorer.scores()
        if self.page_db.rows("page_info") > page_info.LOCAL_MAX_ROWS:
            self.rekeyed = scores.localCheckpoint()
            return
        schema = self._schemas["rekeyed"]
        table = scores.select(*schema.names).toArrow().cast(schema)
        self._known["rekeyed"] = Kept(self.spark, schema, table=table)


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
    and its log appends) before anything reads page state,
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

    A commit hands its pages to ``PageDB.add_batch`` as an Arrow
    table (``pages_table``). While the store is within
    ``LOCAL_MAX_ROWS`` the commit merges on the driver and the pop
    runs on the kept Arrow tables there too, so a GET round runs no
    Spark job and creates no DataFrame.

    Methods are thread-safe. One lock serializes the Spark work
    (commit, seed ingest, pops), so a buffered ``page_crawled`` never
    waits for it. ``metrics()`` reads the ingest, round and pop
    counters."""

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
            "pop_seconds": 0.0,
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
            self.scheduler.add(self.page_db.pages_table(pages))
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
            self.scheduler.add(self.page_db.pages_table([seed]))

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
        shared their commit and pop), and the total seconds of the
        rounds' frontier pops."""
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
                t0 = time.perf_counter()
                urls = self.scheduler.requests(sum(g.n for g in round_))
                pop_seconds = time.perf_counter() - t0
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
                self._counts["pop_seconds"] += pop_seconds
