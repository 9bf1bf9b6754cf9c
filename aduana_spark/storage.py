"""Persistent table layout (SURVEY.md §1.3, §4 "domain-prefix key
layout").

The reference gets domain locality from its LMDB key scheme
(``XXH32(domain) << 32 | XXH32(url)``, page_db.c:502-514). The Spark
analog is table layout, not key layout: bucket the edge table by
source URL (co-locates each page's adjacency and makes repeated
self-joins shuffle-free) and keep an explicit domain column for
partition pruning of cross-domain scans.

In this sandbox tables are Spark-managed parquet (``bucketBy`` +
``sortBy`` → bucketed scans avoid the shuffle in src-keyed joins). On
a production cluster the same tables are Iceberg — see
``ICEBERG_EDGES_DDL`` — where the bucket transform + snapshot
isolation replace both the layout and the reference's TxnManager
(SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: production DDL (Iceberg runtime is not bundled in this sandbox)
ICEBERG_EDGES_DDL = """
CREATE TABLE {catalog}.crawl.edges (
  src_url STRING, dst_url STRING,
  src_domain STRING, dst_domain STRING
) USING iceberg
PARTITIONED BY (bucket({buckets}, src_url))
TBLPROPERTIES ('write.distribution-mode' = 'hash')
"""

ICEBERG_PAGES_DDL = """
CREATE TABLE {catalog}.crawl.pages (
  url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING
) USING iceberg
PARTITIONED BY (bucket({buckets}, url))
"""


def write_edge_table(
    edges_urls: DataFrame, name: str = "edges", buckets: int = 32
) -> None:
    """Persist the dedup'd URL edge table bucketed+sorted by src_url."""
    (
        edges_urls.write.mode("overwrite")
        .bucketBy(buckets, "src_url")
        .sortBy("src_url")
        .format("parquet")
        .saveAsTable(name)
    )


def read_edge_table(spark: SparkSession, name: str = "edges") -> DataFrame:
    return spark.table(name)
