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
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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
