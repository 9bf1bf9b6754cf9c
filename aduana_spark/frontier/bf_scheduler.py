"""Best-first frontier as a Spark SQL view + a pop-semantics driver.

The reference keeps an LMDB schedule sorted by
(score DESC, hash ASC) — comparator scheduler.c:22-37 — and
``bf_scheduler_request`` (bf_scheduler.c:679-819) pops entries,
dropping already-crawled ones and deleting what it serves, with
per-domain politeness rate limiting and geometric escalation
(bf_scheduler.c:782-804).

Spark-first shape: the schedule is **not** a mutable queue but a
deterministic view over persisted tables (SURVEY §1.1)::

    SELECT url, score FROM page_info
    LEFT ANTI JOIN served USING (url)
    WHERE n_crawls = 0 [AND depth <= max_depth] [AND domain rate ok]
    ORDER BY score DESC, xxhash64(url) ASC LIMIT k

with the score re-keyed where ``api.BFScheduler.update_scores`` wrote
one (``page_info.scheduled``, which also carries ``depth``, so the pop
reads page_info once). At scale this compiles to TakeOrderedAndProject
after a cheap anti-join — no global sort materializes. Served tracking
is an append-only log; restart stability (test_bf_scheduler.c:248-314)
is free because the view is a pure function of the persisted tables.
``page_info`` and the crawl log are the scheduler's ``PageDB``
(frontier.page_info), and ``add`` ingests through ``PageDB.add_batch``.

A pop has two executors, picked once per ``requests`` call. Spark's
per-job cost dominates a crawl-sized pop (SparkTune, EDBT 2019), so
while the rows it reads are at most ``page_info.LOCAL_MAX_ROWS`` it
runs on the driver over the Arrow tables ``PageDB`` keeps (executor
``local``): the same filters, domain-temperature gate and order in
pyarrow/numpy, with no Spark job and no DataFrame created. Larger
stores pop on Spark through :func:`frontier_topk` (executor
``spark``). Each pop logs one INFO line on ``aduana_spark.frontier``:
``pop executor=… n=… got=… candidates=… passes=… wall_sec=…``.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aduana_spark.frontier import page_info
from aduana_spark.frontier.domain_temp import domain_temperature, domain_temperature_arrow
from aduana_spark.frontier.page_info import Kept, KeptFrame, PageDB, arrow_schema, scheduled
from aduana_spark.functions.urls import domain_arrow, domain_col, utf8_buffers, xxhash64_np

log = logging.getLogger("aduana_spark.frontier")


def frontier_topk(
    schedule: DataFrame,
    page_info: DataFrame,
    k: int,
    served: DataFrame | None = None,
    max_depth: int | None = None,
    domain_rate: DataFrame | None = None,
    crawl_limit: float | None = None,
    per_domain_k: int | None = None,
) -> DataFrame:
    """The ranked crawl-frontier view (north rule): top-k unfetched
    URLs by score with the reference's deterministic tie-break.

    ``schedule``: (url, score) candidate entries. One that carries
    ``depth`` as well (``page_info.scheduled``) is taken as already
    uncrawled; any other is joined to ``page_info`` for ``n_crawls``
    and ``depth``.
    ``served``: optional (url) log of already-served entries (pop
    semantics). ``domain_rate``: optional (domain, temp) table for the
    politeness gate F2 (bf_scheduler.c:716-721).
    ``per_domain_k``: optional politeness interleave (SURVEY §2.5) —
    admit at most k pages per domain BEFORE the global top-k, so one
    hub domain cannot monopolize the frontier batch (the declarative
    upgrade of the reference's temperature-based skipping). Compiles
    to a rank window partitioned by domain: one shuffle on domain,
    then the usual TakeOrderedAndProject — no global sort.
    """
    cand = schedule
    if "depth" not in schedule.columns:
        cand = schedule.join(
            page_info.select("url", "n_crawls", "depth"), "url", "left"
        ).where(F.coalesce("n_crawls", F.lit(0)) == 0)
    if max_depth is not None and max_depth > 0:
        # F1 (bf_scheduler.c:150-155)
        cand = cand.where(F.coalesce("depth", F.lit(0)) <= max_depth)
    if served is not None:
        cand = cand.join(served.select("url"), "url", "left_anti")
    if domain_rate is not None and crawl_limit is not None:
        cand = cand.withColumn("domain", domain_col("url")).join(
            domain_rate, "domain", "left"
        ).where(F.coalesce("temp", F.lit(0.0)) <= F.lit(crawl_limit)).drop(
            "domain", "temp"
        )
    if per_domain_k is not None and per_domain_k > 0:
        from pyspark.sql import Window

        w = Window.partitionBy(domain_col("url")).orderBy(
            F.col("score").desc(), F.xxhash64("url").asc()
        )
        cand = (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= per_domain_k)
            .drop("_rn")
        )
    return (
        cand.orderBy(F.col("score").desc(), F.xxhash64("url").asc())
        .limit(k)
        .select("url", "score")
    )


def _best_rows(score: pa.Array, url: pa.Array, ok: np.ndarray, k: int) -> np.ndarray:
    """Positions of the first ``k`` rows where ``ok`` holds in
    ``frontier_topk``'s order: ``score`` DESC as Spark orders doubles
    (NaN above everything, -0.0 equal to 0.0, nulls last), then
    ``xxhash64(url)`` ASC; ``url`` holds no null. Rows are partitioned
    by score first, so only the rows that can place are hashed."""
    null = score.is_null().to_numpy(zero_copy_only=False)
    s = pc.fill_null(score, 0.0).to_numpy(zero_copy_only=False)
    nan = np.isnan(s) & ~null
    # rank class: NaN, then numbers by descending score, then nulls
    rank = np.where(nan, 0, np.where(null, 2, 1))
    key = np.where(rank == 1, 0.0 - s, 0.0)
    picked, need = [], k
    for r in range(3):
        if need <= 0:
            break
        rows = np.flatnonzero(ok & (rank == r))
        if r == 1 and len(rows) > need:
            cut = np.partition(key[rows], need - 1)[need - 1]
            rows = rows[key[rows] <= cut]
        picked.append(rows)
        need -= len(rows)
    rows = np.concatenate(picked) if picked else np.zeros(0, np.int64)
    data, offsets = utf8_buffers(url.take(rows))
    h = xxhash64_np(data, offsets[:-1], np.diff(offsets))
    return rows[np.lexsort((h, key[rows], rank[rows]))[:k]]


@dataclass
class Pop:
    """What one ``BFSchedulerView.requests`` did: the executor, URLs
    asked for and served, escalation passes run, and on the driver the
    candidates (uncrawled, within the depth gate, not served yet)."""

    executor: str
    n: int
    got: int
    passes: int
    candidates: int | None = None


def significant_change(old_score, new_score, threshold: float = 0.1):
    """F5 (bf_scheduler.c:450): re-key a schedule entry only when the
    score moved by at least ``threshold`` of its old magnitude —
    |new - old| >= threshold * |old|."""
    old = F.col(old_score) if isinstance(old_score, str) else old_score
    new = F.col(new_score) if isinstance(new_score, str) else new_score
    return F.abs(new - old) >= F.lit(threshold) * F.abs(old)


class BFSchedulerView:
    """Driver for sequential ingest/request cycles over the view —
    the ``BFScheduler`` API (aduana/__init__.py:365-465) minus the
    mutable store. At production scale each table is an Iceberg table
    and ingest is a MERGE job.

    Crawl state lives in ``page_db``: the PageDB passed in (shared
    with the Frontera ``Backend`` or a restarted view, so each batch
    is ingested exactly once) or a new one. ``schedule`` is a
    read-only view over its page_info, so a view over the same PageDB
    sees the same schedule. The view itself keeps only the served log
    ``served`` and the re-key overlay ``rekeyed`` (set by
    ``api.BFScheduler.update_scores``), each kept like the PageDB's
    tables: as Arrow on the driver, read as a DataFrame on demand.

    ``set_crawl_rate(soft, hard)`` arms the politeness gate: crawled
    pages heat their domain (page_db.c:858-860) over a linear-decay
    window of ``10/hard_rate`` seconds (bf_scheduler.c:832-848), and
    ``requests`` admits a page only while its domain temperature is
    under the limit — first at the soft limit, then escalating
    geometrically soft→hard in 5 steps until the request is filled
    (bf_scheduler.c:782-804).
    """

    served = KeptFrame()
    rekeyed = KeptFrame()

    def __init__(
        self,
        spark: SparkSession,
        max_depth: int | None = None,
        page_db: PageDB | None = None,
    ):
        self.spark = spark
        self.max_depth = max_depth
        self.page_db = page_db if page_db is not None else PageDB(spark)
        self._schemas = {
            "served": arrow_schema("url STRING"),
            "rekeyed": arrow_schema("url STRING, score DOUBLE"),
        }
        self._known = {
            "served": Kept(spark, self._schemas["served"],
                           table=self._schemas["served"].empty_table()),
            "rekeyed": None,
        }
        self.last_pop: Pop | None = None
        self.soft_rate: float | None = None
        self.hard_rate: float | None = None
        self.temp_window: float | None = None
        self.update_interval: float | None = None

    def set_crawl_rate(self, soft_rate: float, hard_rate: float) -> None:
        """bf_scheduler_set_max_domain_crawl_rate
        (bf_scheduler.c:832-855): window sized so ~10 crawls at the
        hard rate fit inside it. Non-positive hard_rate disables
        politeness (like soft_rate < 0 in _escalation_limits) instead
        of raising ZeroDivisionError — the C float division degrades
        to inf rather than throwing."""
        if hard_rate is None or hard_rate <= 0:
            self.soft_rate = -1.0
            self.hard_rate = None
            self.temp_window = None
            return
        self.soft_rate = soft_rate
        self.hard_rate = hard_rate
        self.temp_window = 10.0 / hard_rate

    def set_update_interval(self, seconds: float) -> None:
        """BFScheduler.set_update_interval (aduana/__init__.py:463-465):
        minimum seconds between scorer recomputations (consumed by the
        api.BFScheduler facade's maybe_update)."""
        self.update_interval = seconds

    @property
    def schedule(self) -> DataFrame:
        """(url, score) of every page not crawled yet, at the score of
        the last re-key for the pages it covered."""
        return scheduled(self.page_db.page_info, self.rekeyed).drop("depth")

    def add(self, batch: DataFrame | pa.Table) -> None:
        """Ingest one crawl batch (bf_scheduler_add,
        bf_scheduler.c:157-246) through ``PageDB.add_batch``: newly
        discovered pages enter the schedule view (the crawled page
        itself has n_crawls>0 and never does), and crawled pages heat
        their domain's temperature through the crawl log
        (page_db.c:858-860)."""
        self.page_db.add_batch(batch)

    def _escalation_limits(self) -> list[float | None]:
        """The reference's request loop: one pass at the soft limit,
        then 4 geometrically escalated passes up to the hard limit
        when hard > soft, else a final pass at the hard limit
        (bf_scheduler.c:782-804). No rate set → one unlimited pass."""
        from aduana_spark.frontier.domain_temp import escalated_limits

        if self.soft_rate is None or self.soft_rate < 0:
            return [None]
        if self.hard_rate is not None and self.hard_rate > self.soft_rate:
            return list(escalated_limits(self.soft_rate, self.hard_rate, steps=5))
        return [self.soft_rate, self.hard_rate if self.hard_rate is not None else self.soft_rate]

    def requests(self, n: int, now: float | None = None) -> list[str]:
        """Pop up to n URLs (bf_scheduler_request): serve the view's
        top-n and log them as served. With a crawl rate armed, each
        pass admits only domains whose temperature is under that
        pass's limit; skipped pages stay scheduled and are re-examined
        at the next (relaxed) limit.

        The pop runs on the driver (executor ``local``, no Spark job)
        while the rows it reads — page_info, the served log, the
        overlay and, with a crawl rate armed, the crawl log — are at
        most ``page_info.LOCAL_MAX_ROWS`` and the overlay holds each
        URL once; otherwise on Spark. ``last_pop`` says how it ran,
        and one INFO line on ``aduana_spark.frontier`` logs it."""
        t0 = time.perf_counter()
        limits = self._escalation_limits()
        pop = self._pop_local if self._pops_locally(limits) else self._pop_spark
        urls, self.last_pop = pop(n, limits, now)
        fields = {
            "executor": self.last_pop.executor,
            "n": n,
            "got": self.last_pop.got,
            "candidates": self.last_pop.candidates,
            "passes": self.last_pop.passes,
            "wall_sec": round(time.perf_counter() - t0, 6),
        }
        log.info("pop %s", " ".join(f"{k}={v}" for k, v in fields.items()), extra=fields)
        return urls

    def _pops_locally(self, limits: list[float | None]) -> bool:
        rows = self.page_db.rows("page_info") + self._known["served"].rows()
        if limits != [None]:
            rows += self.page_db.rows("crawl_log")
        rekeyed = self._known["rekeyed"]
        if rekeyed is not None:
            rows += rekeyed.rows()
        if rows > page_info.LOCAL_MAX_ROWS:
            return False
        return rekeyed is None or page_info.unique_urls(rekeyed.fetch())

    def _serve(self, urls: list[str]) -> None:
        """Append ``urls`` to the served log."""
        served = self._known["served"].fetch()
        self._known["served"] = Kept(self.spark, served.schema, table=pa.concat_tables(
            [served, pa.table({"url": pa.array(urls, pa.string())}).cast(served.schema)]
        ))

    def _pop_spark(self, n: int, limits: list[float | None], now: float | None):
        domain_rate = None
        if limits != [None]:
            if now is None:
                last = self.page_db.crawl_log.agg(F.max("ts")).first()[0]
                now = last.timestamp() if last is not None else 0.0
            domain_rate = domain_temperature(
                self.page_db.crawl_log.select(domain_col("url"), "ts"),
                now=now,
                window_sec=self.temp_window,
                mode="linear",
            ).persist()

        urls: list[str] = []
        passes = 0
        try:
            for limit in limits:
                if len(urls) >= n:
                    break
                passes += 1
                top = frontier_topk(
                    scheduled(self.page_db.page_info, self.rekeyed),
                    self.page_db.page_info,
                    n - len(urls),
                    served=self.served,
                    max_depth=self.max_depth,
                    domain_rate=domain_rate,
                    crawl_limit=limit,
                )
                got = [r["url"] for r in top.collect()]
                if got:
                    self._serve(got)
                    urls += got
                if domain_rate is None:
                    break  # single unlimited pass
        finally:
            if domain_rate is not None:
                domain_rate.unpersist()
        return urls, Pop("spark", n, len(urls), passes)

    def _pop_local(self, n: int, limits: list[float | None], now: float | None):
        """``_pop_spark`` row for row, on the kept Arrow tables."""
        info = self.page_db.arrow("page_info")
        todo = pc.and_(pc.equal(info["n_crawls"], 0), pc.is_valid(info["url"]))
        if self.max_depth is not None and self.max_depth > 0:
            todo = pc.and_(todo, pc.less_equal(pc.coalesce(info["depth"], 0), self.max_depth))
        cand = info.select(["url", "score"]).filter(todo)
        url = cand["url"].combine_chunks()
        score = cand["score"].combine_chunks()
        rekeyed = self._known["rekeyed"]
        if rekeyed is not None:
            over = rekeyed.fetch()
            at = pc.index_in(url, value_set=over["url"].combine_chunks(), skip_nulls=True)
            score = pc.coalesce(over["score"].combine_chunks().take(at), score)
        served = self._known["served"].fetch()["url"].combine_chunks()
        free = ~pc.is_in(url, value_set=served, skip_nulls=True).to_numpy(zero_copy_only=False)
        temp = None
        if limits != [None]:
            crawls = self.page_db.arrow("crawl_log")
            if now is None:
                last = pc.max(crawls["ts"]).value
                now = last / 1e6 if last is not None else 0.0
            domains, temps = domain_temperature_arrow(
                domain_arrow(crawls["url"]), crawls["ts"], now, self.temp_window
            )
            # a domain without crawls in the window is at 0
            at = pc.index_in(domain_arrow(url), value_set=domains, skip_nulls=True)
            temp = np.append(temps, 0.0)[pc.fill_null(at, len(temps)).to_numpy()]

        candidates = int(free.sum())
        urls: list[str] = []
        passes = 0
        for limit in limits:
            if len(urls) >= n:
                break
            passes += 1
            ok = free if temp is None else free & (temp <= limit)
            rows = _best_rows(score, url, ok, n - len(urls))
            free[rows] = False
            urls += url.take(rows).to_pylist()
            if temp is None:
                break  # single unlimited pass
        if urls:
            self._serve(urls)
        return urls, Pop("local", n, len(urls), passes, candidates)
