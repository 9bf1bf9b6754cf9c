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

Within a batch, first-writer-wins is resolved by ``crawl_order`` then
link position — matching sequential ingest of the same batch.

The best-first schedule is not stored: :func:`scheduled` derives it
from page_info. The pages with ``n_crawls = 0`` are exactly the rows
``bf_scheduler_add`` inserts (bf_scheduler.c:203-228) that are not
crawled yet, at score = link score (scorer.add returns 0.0 for both
scorers; when no scorer is attached the content score is used,
bf_scheduler.c:210-213), unless a score re-key overrides it.

``PageDB`` is the one crawl-state store: page_info, the edge log and
the crawl log, (url, ts) per crawled page, which heats domain
temperature (page_db.c:858-860). The schedulers, the Frontera
``Backend`` and streaming ingest all hold one, and ``PageDB.add_batch``
is the only code that applies a crawl batch to it.

A commit has two executors, picked once for all three tables. A
crawl-sized commit pays Spark's per-job cost many times over for a few
thousand rows (SparkTune, EDBT 2019), so when the store's rows plus
the batch's rows are at most :data:`LOCAL_MAX_ROWS`, the batch crosses
to the driver once as Arrow and :func:`_ingest_local` runs the MERGE
in pyarrow/numpy (executor ``local``). A local commit keeps only the
new Arrow tables (:class:`Kept`): the next commit and the frontier pop
(``bf_scheduler``) read them as they are, and a table's DataFrame is
created only when Spark first reads it. Larger stores, and batches that
repeat a ``url`` or a ``crawl_order`` or hold a null URL, run
:func:`ingest_crawl_batch` on Spark (executor ``spark``). Each commit
logs one INFO line on ``aduana_spark.frontier``:
``commit executor=… pages=… links=… page_info_rows=… wall_sec=…``.
"""

from __future__ import annotations

import datetime as dt
import logging
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from aduana_spark.functions.urls import url_hash_col, utf8_buffers, xxhash64_np
from aduana_spark.graph.builder import edges_with_ids
from aduana_spark.graph.superstep import row_count

log = logging.getLogger("aduana_spark.frontier")

#: a commit runs on the driver when the store's page-info, edge and
#: crawl-log rows plus the batch's rows are at most this many; set from
#: the crossover of a 10-page commit on both executors and the driver
#: heap (ROADMAP item 3)
LOCAL_MAX_ROWS = 1_000_000

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


def ingest_crawl_batch(page_info: DataFrame, batch: DataFrame) -> DataFrame:
    """Apply one crawl batch; returns the new page_info.

    ``batch`` columns: crawl_order BIGINT, url STRING,
    links ARRAY<STRUCT<url STRING, score DOUBLE>>, page_score DOUBLE,
    content_hash BINARY, ts TIMESTAMP. The result is lazy and scans
    ``batch`` several times: materialize it inside
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
    return untouched.unionByName(crawled_info).unionByName(link_info)


def scheduled(page_info: DataFrame, rekeyed: DataFrame | None = None) -> DataFrame:
    """The best-first schedule as a view: (url, score, depth) of every
    page in ``page_info`` with ``n_crawls = 0`` and a URL (a null link
    URL cannot be crawled, so it is never served). ``rekeyed`` is an
    optional (url, score) re-key overlay (bf_scheduler_update,
    bf_scheduler.c:401-487) whose score wins where it holds the page;
    pages it does not hold keep their link score."""
    todo = page_info.where((F.col("n_crawls") == 0) & F.col("url").isNotNull()).select(
        "url", "score", "depth"
    )
    if rekeyed is None:
        return todo
    return todo.join(
        rekeyed.select("url", F.col("score").alias("rekeyed")), "url", "left"
    ).select("url", F.coalesce("rekeyed", "score").alias("score"), "depth")


@dataclass
class _Links:
    """A batch's outlinks, one row per list element in batch order."""

    parent: np.ndarray  # batch row of the linking page
    pos: np.ndarray  # position in that page's list
    url: pa.Array
    score: pa.Array


def _links(batch: pa.Table) -> _Links:
    """posexplode of the batch's ``links`` (null lists explode to none)."""
    lists = batch["links"].combine_chunks()
    parent = pc.list_parent_indices(lists).to_numpy()
    flat = pc.list_flatten(lists)
    return _Links(
        parent,
        np.arange(len(parent)) - np.searchsorted(parent, parent),
        pc.struct_field(flat, "url"),
        pc.struct_field(flat, "score").cast(pa.float64()),
    )


def _local_batch(batch: pa.Table) -> bool:
    """Whether the driver MERGE may take ``batch``: every ``url`` and
    ``crawl_order`` present and distinct, and no null outlink URL.
    The Spark MERGE gives a repeated URL one page-info row per repeat,
    and leaves a tie in ``crawl_order`` to shuffle order."""
    n = batch.num_rows
    return all(
        batch[c].null_count == 0 and pc.count_distinct(batch[c]).as_py() == n
        for c in ("url", "crawl_order")
    ) and _links(batch).url.null_count == 0


def unique_urls(page_info: pa.Table) -> bool:
    """Whether no URL repeats in a page-info table (nulls aside)."""
    urls = page_info["url"]
    return pc.count_distinct(urls).as_py() == len(urls) - urls.null_count


def _eq_null_safe(a, b):
    """Spark's ``<=>``: equal, or both null."""
    return pc.if_else(pc.is_null(a), pc.is_null(b), pc.fill_null(pc.equal(a, b), False))


def _ingest_local(old: pa.Table, batch: pa.Table) -> pa.Table:
    """:func:`ingest_crawl_batch` on the driver, row for row: returns
    the new page_info as an Arrow table in the schema of ``old``.
    ``batch`` must pass
    :func:`_local_batch` and ``old`` must hold each URL once. One hash
    lookup of the batch's URLs and link targets in ``old`` drives the
    crawled-page upsert and the anti-join; first mention wins by
    (``crawl_order``, position)."""
    schema = old.schema
    n = batch.num_rows
    url = batch["url"].combine_chunks()
    ts = batch["ts"].combine_chunks().cast(schema.field("last_crawl").type)
    links = _links(batch)
    at = pc.index_in(
        pa.concat_arrays([url, links.url]), value_set=old["url"].combine_chunks()
    )
    at = pc.fill_null(at, -1).to_numpy()
    crawled_at, link_at = at[:n], at[n:]

    # ---- update/insert the crawled pages themselves ----------------------
    found = crawled_at >= 0
    prev = old.take(pa.array(np.where(found, crawled_at, 0), mask=~found))
    n_crawls = pc.coalesce(prev["n_crawls"], 0)
    changed = pc.and_(
        pc.greater(n_crawls, 0),
        pc.invert(_eq_null_safe(batch["content_hash"], prev["content_hash"])),
    )
    depth = pc.coalesce(prev["depth"], 0)
    crawled = pa.table(
        {
            "url": url,
            "linked_from": prev["linked_from"],
            "depth": depth,
            "first_crawl": pc.coalesce(prev["first_crawl"], ts),
            "last_crawl": ts,
            "n_changes": pc.add(
                pc.coalesce(prev["n_changes"], 0), changed.cast(pa.int64())
            ),
            "n_crawls": pc.add(n_crawls, 1),
            "score": batch["page_score"].cast(pa.float64()),
            "content_hash": batch["content_hash"],
        },
        schema=schema,
    )

    # ---- first-seen link targets -----------------------------------------
    order = np.lexsort((links.pos, batch["crawl_order"].to_numpy()[links.parent]))
    codes = pc.dictionary_encode(links.url.take(order)).indices.to_numpy()
    first = np.sort(order[np.unique(codes, return_index=True)[1]])
    new = first[
        (link_at[first] < 0)
        & ~pc.is_in(links.url.take(first), value_set=url).to_numpy(zero_copy_only=False)
    ]
    src = links.parent[new]
    m = len(new)
    link_info = pa.table(
        {
            "url": links.url.take(new),
            "linked_from": url.take(src),
            "depth": pc.add(depth.take(src), 1),
            "first_crawl": pa.nulls(m, ts.type),
            "last_crawl": pa.nulls(m, ts.type),
            "n_changes": np.zeros(m, np.int64),
            "n_crawls": np.zeros(m, np.int64),
            "score": links.score.take(new),
            "content_hash": pa.nulls(m, pa.binary()),
        },
        schema=schema,
    )

    untouched = old
    if found.any():
        stays = np.ones(old.num_rows, bool)
        stays[crawled_at[found]] = False
        untouched = old.filter(stays)
    return pa.concat_tables([untouched, crawled, link_info])


def arrow_schema(df: DataFrame | str) -> pa.Schema:
    """The Arrow schema ``toArrow`` gives the rows of ``df``, a
    DataFrame or a DDL schema string."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(df) if isinstance(df, str) else df.schema)


class Kept:
    """One table of crawl state: an Arrow table on the driver, the
    DataFrame Spark reads, or both. A table kept as Arrow creates its
    DataFrame on first read, its chunks combined first (each chunk
    becomes a partition). A table kept as a DataFrame alone is counted
    once and fetched once, when first needed; ``fetched`` says whether
    the Arrow table came from such a fetch."""

    def __init__(self, spark: SparkSession, schema: pa.Schema,
                 table: pa.Table | None = None, df: DataFrame | None = None):
        self._spark, self._schema = spark, schema
        self.table, self._df = table, df
        self._rows = table.num_rows if table is not None else None
        self.fetched = False

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            if self.table.column(0).num_chunks > 1:
                self.table = self.table.combine_chunks()
            self._df = self._spark.createDataFrame(self.table)
        return self._df

    def rows(self) -> int:
        """Row count: known, or counted once (one job, no row leaves
        the executors)."""
        if self._rows is None:
            self._rows = row_count(self._df)
        return self._rows

    def fetch(self) -> pa.Table:
        """The rows as Arrow: the kept table, or one fetch that is then
        kept."""
        if self.table is None:
            self.table = self._df.select(*self._schema.names).toArrow().cast(self._schema)
            self._rows = self.table.num_rows
            self.fetched = True
        return self.table


class KeptFrame:
    """A DataFrame attribute over the :class:`Kept` entry of the same
    name in the owner's ``_known`` dict, built with the owner's
    ``spark`` and ``_schemas``. Reading it gives the entry's DataFrame
    (None for no entry); assigning a DataFrame keeps it alone."""

    def __set_name__(self, owner, name: str) -> None:
        self.name = name

    def __get__(self, obj, owner=None):
        if obj is None:
            return self
        kept = obj._known.get(self.name)
        return kept.df if kept is not None else None

    def __set__(self, obj, df: DataFrame | None) -> None:
        obj._known[self.name] = (
            Kept(obj.spark, obj._schemas[self.name], df=df) if df is not None else None
        )


@dataclass
class Commit:
    """What one ``PageDB.add_batch`` did; ``links`` is not counted on
    Spark."""

    executor: str
    pages: int
    page_info_rows: int
    links: int | None = None


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
    """Mirror of aduana.PageDB (aduana/__init__.py:159-232): crawl-state
    store + link graph, backed by DataFrames instead of LMDB.

    ``page_info``, ``edges`` (src_url, dst_url) and ``crawl_log``
    (url, ts) read as DataFrames on either executor. A commit on the
    driver keeps only the new Arrow tables, for the next commit, the
    frontier pop and :meth:`id_edges`; each DataFrame is created when
    first read. A commit on Spark checkpoints them (``localCheckpoint``)
    to truncate lineage. A DataFrame assigned from outside costs the
    next local use one count and one fetch."""

    # crawl_order is 64-bit: streaming ingest derives it from
    # monotonically_increasing_id(), whose upper bits carry the
    # partition index — an INT cast would collide across partitions
    # and make within-batch first-writer-wins nondeterministic
    BATCH_SCHEMA = (
        "crawl_order BIGINT, url STRING, "
        "links ARRAY<STRUCT<url: STRING, score: DOUBLE>>, "
        "page_score DOUBLE, content_hash BINARY, ts TIMESTAMP"
    )

    page_info = KeptFrame()
    edges = KeptFrame()
    crawl_log = KeptFrame()

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._schemas = {
            name: arrow_schema(ddl)
            for name, ddl in (
                ("batch", self.BATCH_SCHEMA),
                ("page_info", PAGE_INFO_SCHEMA),
                ("edges", "src_url STRING, dst_url STRING"),
                ("crawl_log", "url STRING, ts TIMESTAMP"),
            )
        }
        #: table name -> Kept
        self._known = {
            name: Kept(spark, schema, table=schema.empty_table())
            for name, schema in self._schemas.items()
            if name != "batch"
        }
        self.last_commit: Commit | None = None
        self._order = 0

    # ---- the Arrow tables behind the store's DataFrames -------------------

    def rows(self, name: str) -> int:
        """Row count of table ``name``, counted at most once."""
        return self._known[name].rows()

    def kept(self, name: str) -> pa.Table | None:
        """The Arrow table ``name`` on the driver, if there is one."""
        return self._known[name].table

    def arrow(self, name: str) -> pa.Table:
        """Rows of table ``name`` as Arrow, fetched at most once."""
        return self._known[name].fetch()

    def _keep(self, name: str, table: pa.Table) -> None:
        self._known[name] = Kept(self.spark, self._schemas[name], table=table)

    # ---- ingest -----------------------------------------------------------

    def pages_table(self, pages: list[CrawledPage]) -> pa.Table:
        """Crawl batch in BATCH_SCHEMA as Arrow, one row per page in
        list order: ``crawl_order`` numbers the pages consecutively, so
        the MERGE's within-batch first-writer-wins follows arrival
        order. ``add_batch`` takes it as it is."""
        default_ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        ts = TimestampType()
        schema = self._schemas["batch"]
        table = pa.table(
            {
                "crawl_order": np.arange(self._order, self._order + len(pages)),
                "url": [p.url for p in pages],
                "links": [
                    [{"url": u, "score": float(s)} for u, s in p.links] for p in pages
                ],
                "page_score": [float(p.score) for p in pages],
                "content_hash": [p.hash or b"" for p in pages],
                # naive datetimes as createDataFrame reads them: local time
                "ts": pa.array(
                    [ts.toInternal((p.time or default_ts).replace(tzinfo=None))
                     for p in pages],
                    pa.int64(),
                ).cast(schema.field("ts").type),
            },
            schema=schema,
        )
        self._order += len(pages)
        return table

    def pages_batch(self, pages: list[CrawledPage]) -> DataFrame:
        """:meth:`pages_table` as a DataFrame."""
        return self.spark.createDataFrame(self.pages_table(pages))

    def page_batch(self, page: CrawledPage) -> DataFrame:
        """One-row crawl batch in BATCH_SCHEMA from a CrawledPage."""
        return self.pages_batch([page])

    def add_batch(self, batch: DataFrame | pa.Table) -> None:
        """page_db_add (page_db.c:807-1016) for a whole batch: one
        MERGE into page_info and the edge-log and crawl-log appends, on
        the driver or on Spark (see the module docstring).
        ``last_commit`` says how the commit ran. ``batch`` is a
        DataFrame, cached while the commit scans it, or an Arrow table
        in BATCH_SCHEMA (:meth:`pages_table`)."""
        t0 = time.perf_counter()
        if isinstance(batch, pa.Table):
            commit = self._add(None, batch, batch.num_rows)
        else:
            with cached_batch(batch):
                commit = self._add(batch, None, row_count(batch))
        self.last_commit = commit
        fields = {
            "executor": commit.executor,
            "pages": commit.pages,
            "links": commit.links,
            "page_info_rows": commit.page_info_rows,
            "wall_sec": round(time.perf_counter() - t0, 6),
        }
        log.info(
            "commit %s", " ".join(f"{k}={v}" for k, v in fields.items()), extra=fields
        )

    def _add(self, batch: DataFrame | None, table: pa.Table | None, pages: int) -> Commit:
        """One of ``batch`` and ``table`` is given."""
        return self._add_local(batch, table, pages) or self._add_spark(batch, table, pages)

    def _add_local(
        self, batch: DataFrame | None, table: pa.Table | None, pages: int
    ) -> Commit | None:
        """The driver MERGE, or None when the store and batch exceed
        LOCAL_MAX_ROWS or the batch or store does not qualify."""
        rows = pages
        for name in ("page_info", "edges", "crawl_log"):
            if rows > LOCAL_MAX_ROWS:
                return None
            rows += self.rows(name)
        if rows > LOCAL_MAX_ROWS:
            return None
        if table is None:
            schema = self._schemas["batch"]
            table = batch.select(*schema.names).toArrow().cast(schema)
        if not _local_batch(table):
            return None
        # a fetched page_info may come from a Spark MERGE that repeated a URL
        old = self.arrow("page_info")
        if self._known["page_info"].fetched and not unique_urls(old):
            return None
        info = _ingest_local(old, table)
        links = _links(table)
        self._keep("page_info", info)
        for name, cols in (
            ("edges", {"src_url": table["url"].combine_chunks().take(links.parent),
                       "dst_url": links.url}),
            ("crawl_log", {"url": table["url"], "ts": table["ts"]}),
        ):
            logged = self.arrow(name)
            self._keep(name, pa.concat_tables([logged, pa.table(cols).cast(logged.schema)]))
        return Commit("local", pages, info.num_rows, len(links.url))

    def _add_spark(
        self, batch: DataFrame | None, table: pa.Table | None, pages: int
    ) -> Commit:
        """The Spark MERGE: ``ingest_crawl_batch`` and the log appends,
        each checkpointed."""
        if batch is None:
            batch = self.spark.createDataFrame(table)
        # localCheckpoint (not persist+count): each batch's plan embeds
        # the previous state's plan, so without truncation Catalyst
        # re-analyzes a deepening tree and per-batch cost grows
        # super-linearly (~5s → 30s within 10 batches, measured)
        self.page_info = ingest_crawl_batch(self.page_info, batch).localCheckpoint()
        new_edges = batch.select(
            F.col("url").alias("src_url"),
            F.explode("links").alias("l"),
        ).select("src_url", F.col("l.url").alias("dst_url"))
        self.edges = self.edges.unionByName(new_edges).localCheckpoint()
        self.crawl_log = self.crawl_log.unionByName(
            batch.select("url", "ts")
        ).localCheckpoint()
        # counted for the log line and the next commit's decision
        return Commit("spark", pages, self.rows("page_info"))

    def add(self, page: CrawledPage) -> None:
        """Single-page convenience over ``add_batch``."""
        self.add_batch(self.pages_table([page]))

    def get_info(self, url: str):
        """S7 point lookup (page_db.c:1018-1067)."""
        rows = self.page_info.where(F.col("url") == url).collect()
        return rows[0] if rows else None

    def iter_page_info(self):
        """S4 page-info scan (page_db.c:1377-1441)."""
        for r in self.page_info.toLocalIterator():
            yield r

    def id_edges(self) -> DataFrame:
        """Dedup'd (src, dst) LONG edges (S2 link stream analog). From
        the kept edge table when there is one: the distinct URL pairs,
        both ends hashed with ``xxhash64_np`` (Spark's ``xxhash64``)."""
        edges = self.kept("edges")
        if edges is not None:
            return self._id_edges_local(edges)
        e = self.edges.dropDuplicates(["src_url", "dst_url"])
        v = (
            e.select(F.col("src_url").alias("url"))
            .unionAll(e.select(F.col("dst_url").alias("url")))
            .distinct()
            .select(url_hash_col("url").alias("id"), "url")
        )
        return edges_with_ids(e, v)

    def _id_edges_local(self, edges: pa.Table) -> DataFrame:

        pairs = edges.group_by(["src_url", "dst_url"]).aggregate([]).drop_null()
        m = pairs.num_rows
        urls = pc.dictionary_encode(
            pa.concat_arrays([pairs[c].combine_chunks() for c in pairs.column_names])
        )
        data, offsets = utf8_buffers(urls.dictionary)
        ids = xxhash64_np(data, offsets[:-1], np.diff(offsets))[urls.indices.to_numpy()]
        schema = pa.schema(
            [pa.field("src", pa.int64(), False), pa.field("dst", pa.int64(), False)]
        )
        return self.spark.createDataFrame(pa.table([ids[:m], ids[m:]], schema=schema))

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
