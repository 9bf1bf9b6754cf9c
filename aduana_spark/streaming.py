"""Structured Streaming ingest (optional extension; SURVEY.md §2.9).

The reference ingests crawled pages one REST POST at a time
(aduana-server.py:79-127, wire format doc/python.rst:203-247:
``{"url": ..., "score": ..., "links": [[url, score], ...],
"content_hash": ...}``) and triggers score recomputation when enough
new pages arrived (U1). The Spark-native shape: a streaming source of
crawled-page JSON → ``foreachBatch`` handing each micro-batch to
``PageDB.add_batch`` (frontier.page_info), the MERGE and edge-log
append the batch path uses; the scorer job runs between micro-batches
when ``update_due`` fires.

This module keeps everything testable with file sources; on a real
cluster the source is Kafka/Kinesis and the sinks are Iceberg tables
(MERGE via foreachBatch is the standard Iceberg streaming-upsert
pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aduana_spark.frontier.page_info import PageDB

#: REST wire format (doc/python.rst:203-247)
CRAWLED_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField(
            "links",
            T.ArrayType(T.ArrayType(T.StringType())),  # [url, score-as-string]
            True,
        ),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def parse_crawled_pages(raw: DataFrame) -> DataFrame:
    """JSON lines → the batch-ingest schema (frontier.page_info)."""
    links = F.transform(
        F.col("links"),
        lambda pair: F.struct(
            pair[0].alias("url"), pair[1].cast("double").alias("score")
        ),
    )
    # crawl_order stays LONG: monotonically_increasing_id packs the
    # partition index into the upper 33 bits — an int cast would
    # collide across partitions and break first-writer-wins ordering
    return raw.select(
        F.monotonically_increasing_id().alias("crawl_order"),
        "url",
        links.alias("links"),
        F.coalesce(F.col("score"), F.lit(0.0)).alias("page_score"),
        F.encode(F.coalesce(F.col("content_hash"), F.lit("")), "utf-8").alias(
            "content_hash"
        ),
        F.coalesce(F.col("ts"), F.lit("2026-01-01").cast("timestamp")).alias("ts"),
    )


class StreamingIngest:
    """File/Kafka-source streaming ingest into a ``PageDB``.

    ``start(input_dir, checkpoint_dir)`` returns the StreamingQuery;
    state is exposed as ``page_db.page_info`` / ``page_db.edges`` /
    ``page_db.crawl_log`` after each micro-batch (foreachBatch runs
    ``PageDB.add_batch``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.page_db = PageDB(spark)
        self.batches_seen = 0

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_crawled_pages(batch_df)
        if parsed.isEmpty():
            return
        self.page_db.add_batch(parsed)
        self.batches_seen += 1

    def start(self, input_dir: str, checkpoint_dir: str, trigger_once: bool = True):
        raw = (
            self.spark.readStream.schema(CRAWLED_PAGE_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .json(input_dir)
        )
        writer = raw.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def streaming_domain_temperature(
    crawl_stream: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """A8 as a stream: per-domain crawl counts over event-time windows
    with late-data handling. The reference's DomainTemp table
    (domain_temp.c:25-53) is the single-process incremental
    approximation of exactly this windowed count; here watermarking
    bounds the state the same way its fixed-size table did.

    Input: streaming DataFrame with (domain STRING, ts TIMESTAMP).
    Output: (window, domain, temp) streaming aggregation — pair with
    ``writeStream.outputMode("update"|"complete")``.
    """
    return (
        crawl_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide or window), F.col("domain"))
        .agg(F.count("*").alias("temp"))
    )


def stateful_domain_temperature(
    crawl_stream: DataFrame,
    window_sec: float = 60.0,
) -> DataFrame:
    """A8 as a **custom stateful streaming operator**
    (``applyInPandasWithState``): the reference's incremental
    DomainTemp recurrence (domain_temp.c:25-41) kept as per-key
    streaming state instead of a fixed-size in-process table::

        temp ← temp · max(0, 1 − Δ/window) + 1   at each crawl,

    where Δ is the gap since the domain's previous crawl (the
    reference decays against the table-wide last update; per-key state
    uses the domain's own gap — identical when crawls are dense, and
    the per-key form is the one that shards across executors). State
    per domain is two scalars (temp, last_ts); arbitrarily many
    domains shard by the group key, no fixed-size-table eviction
    needed (domain_temp.c:44-53 evicts minima only because its table
    is a fixed array).

    Input: streaming (domain STRING, ts TIMESTAMP). Output stream:
    (domain, temp, last_ts) — one updated row per domain per
    micro-batch; pair with outputMode("update").
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "domain STRING, temp DOUBLE, last_ts DOUBLE"
    state_schema = "temp DOUBLE, last_ts DOUBLE"

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            temp, last_ts = state.get
        else:
            temp, last_ts = 0.0, None
        ts_all = []
        for pdf in pdf_iter:
            ts_all.extend(t.timestamp() for t in pdf["ts"])
        for t in sorted(ts_all):  # event-time order within the batch
            if last_ts is not None:
                k = max(0.0, 1.0 - (t - last_ts) / window_sec)
                temp = temp * k
            temp += 1.0
            last_ts = t
        state.update((float(temp), float(last_ts)))
        yield pd.DataFrame(
            {"domain": [key[0]], "temp": [temp], "last_ts": [last_ts]}
        )

    return crawl_stream.groupBy("domain").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
