"""SparkSession construction with scale-oriented defaults.

The engine targets multi-executor clusters over ~10^12-document edge
tables; in this sandbox we run ``local[N]`` but keep every setting
cluster-shaped:

- AQE on (runtime coalescing + skew-join splitting — hub domains in a
  web graph are heavily skewed),
- Arrow enabled for every pandas UDF path,
- shuffle partition count is a tunable (the iterative graph loops
  narrow it for small graphs and restore it, see ``graph.superstep``),
- the driver heap fits the host: ``$ADUANA_DRIVER_MEM`` when set, else
  an eighth of MemTotal clamped to 1-4 GB (:func:`driver_heap`), with
  ``-Xms`` equal to ``-Xmx``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("ADUANA_SHUFFLE_PARTITIONS", "32"))


def driver_heap(meminfo: str) -> str:
    """Default driver heap for a host, from the text of its
    ``/proc/meminfo``: an eighth of MemTotal, clamped to [1g, 4g]. A
    text without a MemTotal line gets the 1g floor."""
    total_kb = 0
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            total_kb = int(line.split()[1])
            break
    return f"{max(1024, min(4096, total_kb // 1024 // 8))}m"


def _host_driver_heap() -> str:
    try:
        with open("/proc/meminfo") as fh:
            return driver_heap(fh.read())
    except OSError:
        return driver_heap("")


def get_spark(
    app_name: str = "aduana-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores). On a
    real cluster, leave ``master`` unset and submit with
    ``spark-submit --py-files aduana_spark.zip``.

    The driver heap is ``spark.driver.memory`` from ``extra_conf``, else
    ``$ADUANA_DRIVER_MEM``, else :func:`driver_heap` of this host; the
    JVM starts with ``-Xms`` at that size. ``extra_conf`` entries are
    applied last and override any default here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # local-mode Python workers are fresh interpreters that must import
    # aduana_spark for Arrow UDFs — make the package importable from any
    # cwd (cluster equivalent: spark-submit --py-files aduana_spark.zip)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    # effective driver heap: an extra_conf override must also drive the
    # -Xms option below (-Xms larger than -Xmx aborts the JVM)
    driver_mem = (
        (extra_conf or {}).get("spark.driver.memory")
        or os.environ.get("ADUANA_DRIVER_MEM")
        or _host_driver_heap()
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        # Xms=Xmx: a growable G1 heap re-commits/uncommits regions for
        # the life of the JVM; on virtualized hosts the resulting
        # cross-CPU page-table/TLB kernel work stalls on descheduled
        # vCPUs and can multiply iterative-job walls (A/B-measured on
        # this repo's PageRank supersteps — see BENCH.md). Production
        # executors pin Xms=Xmx for the same reason.
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_mem}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # iterative jobs chain localCheckpoints (PageRank/HITS/CC/LP):
        # each superstep's blocks are freed by ContextCleaner only
        # after a JVM GC proves the old RDD unreachable, and a big heap
        # can go 10s of minutes between collections — tighten the
        # driver's periodic-GC floor so block cleanup keeps pace with
        # superstep cadence instead of accumulating storage
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
