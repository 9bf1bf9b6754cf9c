"""Crawl frontier re-expressed as Spark SQL views (SURVEY.md §2.6, §3.3)."""

from aduana_spark.frontier.page_info import (  # noqa: F401
    PAGE_INFO_SCHEMA,
    PageDB,
    ingest_crawl_batch,
)
from aduana_spark.frontier.bf_scheduler import BFSchedulerView, frontier_topk  # noqa: F401
from aduana_spark.frontier.freq_scheduler import (  # noqa: F401
    FreqSchedulerView,
    build_freq_table,
    freq_spec,
    next_due_view,
)
