"""Page-state ingest: the MERGE semantics of ``page_db_add``
(/root/reference/lib/src/page_db.c:807-1016) as batch DataFrame ops.

Per crawled page in a batch:

- crawled URL: upsert PageInfo — new: n_crawls=1, n_changes=0,
  first_crawl=last_crawl=ts; existing: n_crawls+=1, last_crawl=ts,
  n_changes+=1 iff content_hash changed
  (page_db_add_crawled_page_info, page_db.c:243-277),
- each outlink: create PageInfo only if unseen (MDB_NOOVERWRITE
  first-writer-wins, page_db.c:914-918) with depth = crawler depth+1,
  linked_from = crawler url, score = link score
  (page_db.c:196-214, 921-931),
- link targets that already exist are untouched (the test comment at
  test_bf_scheduler.c:60-79 marks them "n: not added"),
- the crawled page's own depth when first seen via crawl (a seed) is 0.

The function also returns the batch's *newly created crawlable* pages
— exactly the rows ``bf_scheduler_add`` inserts into the schedule
(bf_scheduler.c:203-228), with score = link score (scorer.add returns
0.0 for both scorers; when no scorer is attached the content score is
used, bf_scheduler.c:210-213).

Within a batch, first-writer-wins is resolved by ``crawl_order`` then
link position — matching sequential ingest of the same batch.

``PageDB`` is the one page-state store: the schedulers, the Frontera
``Backend`` and streaming ingest all hold one, and ``PageDB.add_batch``
is the only code that applies a crawl batch to it (MERGE, edge-log
append and lineage truncation).
"""

from __future__ import annotations

import datetime as dt
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aduana_spark.functions.urls import url_hash_col
from aduana_spark.graph.builder import edges_with_ids

PAGE_INFO_SCHEMA = (
    "url STRING, linked_from STRING, depth BIGINT, first_crawl TIMESTAMP, "
    "last_crawl TIMESTAMP, n_changes BIGINT, n_crawls BIGINT, score DOUBLE, "
    "content_hash BINARY"
)

CRAWL_BATCH_COLS = ("crawl_order", "url", "links", "page_score", "content_hash", "ts")


def empty_page_info(spark) -> DataFrame:
    return spark.createDataFrame([], schema=PAGE_INFO_SCHEMA)


def is_seed_col(url) -> F.Column:
    """F4 (page_db.c:437-445): seed sentinel pages created by the
    Frontera backend are prefixed '_seed_' (frontera.py:49-56)."""
    url = F.col(url) if isinstance(url, str) else url
    return url.startswith("_seed_")


@contextmanager
def cached_batch(batch: DataFrame):
    """Keep ``batch`` cached while the block runs, for the several
    scans an ingest makes of it. Wrap the whole ingest, up to its last
    eager checkpoint. A batch the caller already cached stays cached;
    one cached here is released on the way out, so a long-running
    ingest loop does not leave one cached batch behind per call."""
    if batch.storageLevel != StorageLevel.NONE:
        yield batch
        return
    batch.persist()
    try:
        yield batch
    finally:
        batch.unpersist()


def ingest_crawl_batch(
    page_info: DataFrame, batch: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Apply one crawl batch; returns (new_page_info, new_schedule_rows).

    ``batch`` columns: crawl_order BIGINT, url STRING,
    links ARRAY<STRUCT<url STRING, score DOUBLE>>, page_score DOUBLE,
    content_hash BINARY, ts TIMESTAMP.
    ``new_schedule_rows``: (url, score) for newly created uncrawled
    pages (candidate schedule insertions). Both results are lazy and
    scan ``batch`` several times: materialize them inside
    ``cached_batch(batch)``.
    """
    crawled = batch.select(
        "crawl_order", "url", "page_score", "content_hash", "ts"
    )

    # ---- update/insert the crawled pages themselves ----------------------
    old = page_info.select(
        F.col("url"),
        F.col("linked_from").alias("old_linked_from"),
        F.col("depth").alias("old_depth"),
        F.col("first_crawl").alias("old_first"),
        F.col("n_changes").alias("old_n_changes"),
        F.col("n_crawls").alias("old_n_crawls"),
        F.col("content_hash").alias("old_hash"),
    )
    joined = crawled.join(old, "url", "left")
    # content-change detection (page_db.c:243-277): bump n_changes when a
    # previously *crawled* page returns a different content hash
    changed = (F.coalesce("old_n_crawls", F.lit(0)) > 0) & ~F.col(
        "content_hash"
    ).eqNullSafe(F.col("old_hash"))
    crawled_info = joined.select(
        "url",
        F.col("old_linked_from").alias("linked_from"),
        F.coalesce("old_depth", F.lit(0)).alias("depth"),
        F.coalesce("old_first", F.col("ts")).alias("first_crawl"),
        F.col("ts").alias("last_crawl"),
        (
            F.coalesce("old_n_changes", F.lit(0))
            + F.when(changed, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_changes"),
        (F.coalesce("old_n_crawls", F.lit(0)) + 1).alias("n_crawls"),
        F.col("page_score").cast("double").alias("score"),
        F.col("content_hash"),
    )

    # ---- first-seen link targets -----------------------------------------
    links = batch.select(
        "crawl_order",
        F.col("url").alias("src_url"),
        F.posexplode("links").alias("pos", "link"),
        F.col("ts"),
    ).select(
        "crawl_order",
        "src_url",
        "pos",
        F.col("link.url").alias("url"),
        F.col("link.score").cast("double").alias("score"),
        "ts",
    )
    # first mention inside the batch wins (sequential-ingest order)
    w = Window.partitionBy("url").orderBy("crawl_order", "pos")
    first_links = links.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    # drop targets already known (first-writer-wins), or crawled in this batch
    known = page_info.select("url").unionAll(crawled.select("url")).distinct()
    new_links = first_links.join(known, "url", "left_anti")
    # depth of src at ingest time: crawled pages in this batch get their
    # (possibly pre-existing) depth; link depth = src depth + 1
    src_depth = crawled_info.select(
        F.col("url").alias("src_url"), F.col("depth").alias("src_depth")
    )
    link_info = new_links.join(src_depth, "src_url", "left").select(
        "url",
        F.col("src_url").alias("linked_from"),
        (F.coalesce("src_depth", F.lit(0)) + 1).alias("depth"),
        F.lit(None).cast("timestamp").alias("first_crawl"),
        F.lit(None).cast("timestamp").alias("last_crawl"),
        F.lit(0).cast("bigint").alias("n_changes"),
        F.lit(0).cast("bigint").alias("n_crawls"),
        F.col("score"),
        F.lit(None).cast("binary").alias("content_hash"),
    )

    untouched = page_info.join(
        crawled.select("url"), "url", "left_anti"
    )
    new_page_info = untouched.unionByName(crawled_info).unionByName(link_info)

    new_schedule = link_info.select("url", "score")
    return new_page_info, new_schedule


def crawl_rate_col() -> F.Column:
    """F10 / A10 (page_db.c:428-435, freq_algo.c:6-44): estimated
    change rate (n_changes+1)/(last_crawl-first_crawl); -1.0 sentinel
    when the interval is empty."""
    interval = F.unix_timestamp("last_crawl") - F.unix_timestamp("first_crawl")
    return F.when(
        interval > 0, (F.col("n_changes") + 1).cast("double") / interval
    ).otherwise(F.lit(-1.0))


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
