#!/usr/bin/env python
"""Headline suite: the engine's headline operators, timed in-process.

Runs every row of :func:`headline_queries` over ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:

- ``value``: the sum of the 12 timed query rows (sec);
- ``queries``: each row's wall, plus ``pagerank_superstep`` (the mean
  PageRank superstep wall, derived, not a row of ``value``);
- ``contaminated_queries``: rows whose window the host stole from,
  judged by each row's own /proc/stat split;
- ``pagerank_edges``, ``pagerank_supersteps``,
  ``pagerank_edges_per_superstep_sec``;
- ``harness_s``: the rest of the process wall (imports, session start
  and stop, untimed reads).

Per-change performance is judged by perfbench (``BENCHMARK.json``);
this suite produces the headline table in BENCH.md.
"""

from __future__ import annotations

import time

_T_START = time.time()

import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session(cores: int, shuffle_partitions: int) -> SparkSession:
    import pathlib

    from aduana_spark.session import get_spark

    # tmpfs shuffle dirs: keeps local-mode shuffle I/O off the VM's
    # disk (measured: stabilizes superstep walls from 4-30s swings to
    # ±10% at 8 cores)
    local_dir = "/dev/shm/spark-local"
    pathlib.Path(local_dir).mkdir(exist_ok=True)
    return get_spark(
        app_name=f"aduana-bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions,
        extra_conf={"spark.local.dir": local_dir},
    )


def _t(spark, name) -> DataFrame:
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


def bench_edges(spark) -> DataFrame:
    """Deduplicated multi-relation digraph from the star schema."""
    orders = _t(spark, "orders")
    li = _t(spark, "lineitem")
    P, S = 10_000_000, 20_000_000
    e1 = orders.select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") + 1_000_000).cast("long").alias("dst"),
    )
    e2 = li.select(
        (F.col("l_orderkey") + 1_000_000).cast("long").alias("src"),
        (F.col("l_partkey") + P).cast("long").alias("dst"),
    )
    e3 = li.select(
        (F.col("l_partkey") + P).cast("long").alias("src"),
        (F.col("l_suppkey") + S).cast("long").alias("dst"),
    )
    return e1.unionAll(e2).unionAll(e3).dropDuplicates(["src", "dst"])


@contextlib.contextmanager
def headline_queries(spark):
    """The timed headline rows as an ordered ``name -> callable`` table;
    each zero-arg callable runs its query through to the action.

    ``ivf_topk_cells`` queries the cells the last ``ivf_build_cells``
    call persisted; they are unpersisted when the block exits."""
    from aduana_spark.datagen import synth_pages
    from aduana_spark.extraction import extract_pages, raw_edges
    from aduana_spark.graph.components import connected_components
    from aduana_spark.graph.hits import hits
    from aduana_spark.graph.pagerank import pagerank
    from aduana_spark.graph.triangles import triangle_count
    from aduana_spark.pipeline.dedup import minhash_lsh_candidates
    from aduana_spark.pipeline.multimodal import (
        extract_media_features,
        synthesize_media,
    )
    from aduana_spark.pipeline.similarity import (
        add_ivf_cells,
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    edges = bench_edges(spark)
    li = _t(spark, "lineitem")
    mod = li.select(
        (F.col("l_partkey") % 500).cast("long").alias("src"),
        (F.col("l_suppkey") % 500).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    orders = _t(spark, "orders")
    docs = _t(spark, "documents")
    # 10× corpus: exercises the bucket caps + the bucket-join under
    # load (each original doc's 10 salted copies are exact dups, so
    # every band bucket carries 10× membership)
    docs10 = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"), "doc_id", "text"
    ).select(
        (F.col("doc_id") * F.lit(10).cast("long") + F.col("k").cast("long")).alias(
            "doc_id"
        ),
        "text",
    )
    emb = _t(spark, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).first()["embedding"])

    # IVF with the persisted-cell scale path: build (k-means + cell
    # assignment, persisted) timed separately from the repeated-query
    # cost that benefits from it
    ivf: dict = {}

    def ivf_build_cells():
        if "cells" in ivf:
            ivf["cells"].unpersist()
        ivf["cents"] = kmeans_centroids(emb, k=16, iters=3, seed=7)
        ivf["cells"] = add_ivf_cells(emb, ivf["cents"]).persist()
        return ivf["cells"].count()

    # REAL multimodal decode throughput: synthesize 2k media rows
    # (PNG/BMP/GIF/JPEG images, WAVs, MJPEG-AVI videos) and decode
    # every one to features in Arrow batches. Encoder and decoder both
    # run in the measured window; the synthesis is the same
    # deterministic corpus the media_decode oracle gates.
    def media_decode_2k():
        return (
            extract_media_features(
                synthesize_media(docs.select("doc_id").limit(2000)),
                dim=16,
                decoder="real",
            )
            .where(F.col("feature").isNotNull())
            .count()
        )

    try:
        yield {
            "pagerank_1e6": lambda: pagerank(edges, precision=1e-6, max_iters=60),
            "hits_1e4": lambda: hits(edges, precision=1e-4, max_iters=40).ranks.count(),
            "connected_components": lambda: connected_components(edges).ranks.count(),
            "triangle_count": lambda: triangle_count(mod).collect(),
            "frontier_topk": lambda: orders.where(F.col("o_orderstatus") == "O")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(100)
            .collect(),
            "minhash_lsh": lambda: minhash_lsh_candidates(
                docs, num_perm=64, bands=16, shingle_k=3, threshold=0.5
            ).count(),
            "minhash_lsh_10x": lambda: minhash_lsh_candidates(
                docs10, num_perm=64, bands=16, shingle_k=3, threshold=0.5
            ).count(),
            "embedding_topk": lambda: brute_force_topk(emb, qvec, k=10).collect(),
            "ivf_build_cells": ivf_build_cells,
            "ivf_topk_cells": lambda: ivf_topk(
                ivf["cells"], qvec, k=10, centroids=ivf["cents"], cell_col="_cell"
            ).collect(),
            "extract_5k_pages": lambda: raw_edges(
                extract_pages(synth_pages(spark, n_pages=5000, n_domains=200))
            ).count(),
            "media_decode_2k": media_decode_2k,
        }
    finally:
        if "cells" in ivf:
            ivf["cells"].unpersist()


def _proc_stat() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def _proc_stat_delta(a, b) -> dict:
    """CPU-time split (%) between two /proc/stat snapshots: the
    hypervisor's own accounting of steal during the window."""
    if a is None or b is None:
        return {}
    d = [y - x for x, y in zip(a, b)]
    total = sum(d) or 1
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {f"{n}_pct": round(100 * v / total, 1) for n, v in zip(names, d[:8])}


def _query_contaminated(c: dict | None) -> bool:
    """Host steal during the query's own window, or a kernel-dominated
    profile (lock-holder preemption / free-page-reporting storm),
    attributes a slow wall to the environment rather than the plan."""
    return bool(c) and (
        c.get("steal_pct", 0.0) >= 2.0
        or c.get("system_pct", 0.0) >= 0.6 * max(c.get("user_pct", 0.0), 0.1)
    )


def run_headline(spark) -> tuple[dict[str, float], dict[str, dict], object]:
    """Time each headline row once. Returns the walls (with
    ``pagerank_superstep`` after ``pagerank_1e6``), each row's
    /proc/stat split, and the PageRank result."""
    q: dict[str, float] = {}
    qcpu: dict[str, dict] = {}
    pr = None
    with headline_queries(spark) as rows:
        for name, fn in rows.items():
            s0 = _proc_stat()
            t0 = time.time()
            out = fn()
            q[name] = time.time() - t0
            qcpu[name] = _proc_stat_delta(s0, _proc_stat())
            if name == "pagerank_1e6":
                pr = out
                q["pagerank_superstep"] = sum(
                    m.wall_sec for m in pr.metrics
                ) / max(len(pr.metrics), 1)
    return q, qcpu, pr


def main() -> None:
    spark = _session(CPUS, shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        queries, queries_cpu, pr = run_headline(spark)
    finally:
        spark.stop()
    queries = {k: round(v, 3) for k, v in queries.items()}
    timed = round(sum(v for k, v in queries.items() if k != "pagerank_superstep"), 3)
    pr_wall = sum(m.wall_sec for m in pr.metrics)
    result = {
        "metric": "headline_suite_total",
        "value": timed,
        "unit": "sec",
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "queries": queries,
        "contaminated_queries": [
            name for name, c in queries_cpu.items() if _query_contaminated(c)
        ],
        "pagerank_edges": pr.n_edges,
        "pagerank_supersteps": pr.n_iterations,
        "pagerank_edges_per_superstep_sec": (
            round(pr.n_edges * pr.n_iterations / pr_wall) if pr_wall else None
        ),
        "harness_s": round(time.time() - _T_START - timed, 3),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
