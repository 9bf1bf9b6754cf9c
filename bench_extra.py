#!/usr/bin/env python
"""Diagnostics around the headline suite: repeated query walls, plan
captures and per-superstep breakdowns, for explaining a bench.py row.

- ``queries [name ...]``: run individual rows of
  ``bench.headline_queries`` with repeats (``BE_REPEATS``, default 3),
  printing per-attempt walls.
- ``plans <out_dir> [name ...]``: capture ``.explain("formatted")``
  for each query's final DataFrame into ``<out_dir>/<name>.txt``
  (the committed plan evidence under ``plans/r06/``).
- ``superstep <algo>``: per-superstep wall breakdown for the
  iterative algorithms (pagerank / hits / cc) on the bench graph.
- ``commit [pages ...]``: the commit crossover. For each store of
  ``pages`` crawled pages with 9 new outlinks each (page_info 10×,
  edges 9× pages), five 10-page ``BFSchedulerView.add`` commits on
  each executor (``page_info.LOCAL_MAX_ROWS`` patched), printing
  per-commit walls, the Spark jobs each commit ran and the driver's
  peak RSS so far; the first local commit fetches the store.
- ``pop [pages ...]``: the pop crossover. Over the same stores (one
  Spark commit of ``pages`` pages, page_info 10× pages), five
  ``BFSchedulerView.requests(10)`` on each executor
  (``page_info.LOCAL_MAX_ROWS`` patched), printing per-pop walls, the
  Spark jobs each pop ran and the driver's peak RSS so far; the first
  local pop counts and fetches page_info.

Usage: python bench_extra.py queries minhash_lsh_10x media_decode_2k
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402

CPUS = bench.CPUS


def _spark():
    s = bench._session(CPUS)
    s.sparkContext.setLogLevel("ERROR")
    return s


# ---------------------------------------------------------------- queries
def cmd_queries(names: list[str], repeats: int = 3) -> None:
    spark = _spark()
    with bench.headline_queries(spark) as rows:
        names = names or list(rows)
        if "ivf_topk_cells" in names and "ivf_build_cells" not in names:
            rows["ivf_build_cells"]()  # untimed: the cells it queries
        out = {}
        for name in names:
            fn = rows[name]
            walls = []
            for i in range(repeats):
                spark.sparkContext.setJobDescription(f"{name}#{i}")
                t0 = time.time()
                fn()
                walls.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = walls
            print(json.dumps({name: walls}), flush=True)
    print(json.dumps({"all": out}))
    spark.stop()


# ----------------------------------------------------------------- plans
# Plan capture: the DataFrame whose explain we commit as evidence. For
# iterative algorithms the representative plan is ONE superstep's
# candidate state (the steady-state job), captured via a
# plan-observation hook.


def _plan_frames(spark):
    """name -> DataFrame to explain (lazy; no actions unless needed)."""
    from aduana_spark.graph.triangles import triangle_count
    from aduana_spark.pipeline.dedup import minhash_lsh_candidates
    from aduana_spark.pipeline.multimodal import (
        extract_media_features,
        synthesize_media,
    )
    from aduana_spark.pipeline.similarity import brute_force_topk

    docs = bench._t(spark, "documents")
    emb = bench._t(spark, "embeddings")
    orders = bench._t(spark, "orders")
    li = bench._t(spark, "lineitem")
    mod = li.select(
        (F.col("l_partkey") % 500).cast("long").alias("src"),
        (F.col("l_suppkey") % 500).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return {
        "triangle_count": lambda: triangle_count(mod, eager=False),
        "frontier_topk": lambda: orders.where(F.col("o_orderstatus") == "O")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100),
        "minhash_lsh": lambda: minhash_lsh_candidates(
            docs, num_perm=64, bands=16, shingle_k=3, threshold=0.5, eager=False
        ),
        "embedding_topk": lambda: brute_force_topk(
            emb,
            list(emb.where(F.col("vec_id") == 0).first()["embedding"]),
            k=10,
        ),
        "media_decode_2k": lambda: extract_media_features(
            synthesize_media(docs.select("doc_id").limit(2000)),
            dim=16,
            decoder="real",
        ).where(F.col("feature").isNotNull()),
    }


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _superstep_plan(spark, algo: str) -> str:
    """Explain ONE steady-state superstep of an iterative algo on the
    bench graph, built from the production pieces: SuperstepLoop's edge
    cache at the session's width, and the algorithm's own setup and
    message/aggregate functions. pagerank and hits explain superstep
    1's first job; cc runs superstep 1 and explains superstep 2, whose
    plan shows the delta-propagation frontier."""
    from aduana_spark.graph.components import _candidate as cc_candidate
    from aduana_spark.graph.components import symmetrize
    from aduana_spark.graph.hits import _candidate as hits_candidate
    from aduana_spark.graph.hits import _sums, _vertices
    from aduana_spark.graph.pagerank import _candidate as pr_candidate
    from aduana_spark.graph.pagerank import _uniform_sums, _vertex_state
    from aduana_spark.graph.superstep import SuperstepLoop

    edges_raw = bench.bench_edges(spark)
    with SuperstepLoop(spark, algo) as loop:
        if algo == "pagerank":
            edges = loop.edge_cache(edges_raw, "src")
            vstate, _ = _vertex_state(edges, None, None)
            vstate = loop.cache(vstate)
            n_vertices = vstate.count()
            state = vstate.withColumn("rank", F.lit(1.0 / n_vertices))
            cand = pr_candidate(edges, state, 0.85)
            return _explain_str(_uniform_sums(cand))
        if algo == "hits":
            edges_by_src = loop.edge_cache(edges_raw, "src")
            edges_by_dst = loop.edge_cache(edges_raw, "dst")
            verts = loop.cache(_vertices(edges_by_src, None, None))
            n_vertices = verts.count()
            state = verts.select(
                "id",
                "score",
                F.lit(1.0 / n_vertices).alias("hub"),
                F.lit(1.0 / n_vertices).alias("auth"),
            )
            cand = hits_candidate(edges_by_src, edges_by_dst, state, False)
            return _explain_str(_sums(cand))
        if algo == "cc":
            sym = loop.edge_cache(symmetrize(edges_raw), "src")
            state = loop.cache(
                sym.select(F.col("src").alias("id"))
                .unionAll(sym.select(F.col("dst").alias("id")))
                .distinct()
                .select("id", F.col("id").alias("component"))
            )
            state.count()
            cand1 = cc_candidate(sym, state, state).localCheckpoint(eager=False)
            frontier = cand1.where(F.col("component") != F.col("old")).select(
                "id", "component"
            )
            frontier.count()
            cand2 = cc_candidate(sym, cand1.select("id", "component"), frontier)
            return _explain_str(cand2)
    raise SystemExit(f"unknown superstep algo {algo}")


def cmd_plans(out_dir: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    frames = _plan_frames(spark)
    names = names or (list(frames) + ["pagerank_superstep", "cc_superstep"])
    for name in names:
        if name.endswith("_superstep"):
            txt = _superstep_plan(spark, name[: -len("_superstep")])
        else:
            txt = _explain_str(frames[name]())
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(txt)
        print(f"wrote {out_dir}/{name}.txt ({len(txt)} bytes)")
    spark.stop()


# ------------------------------------------------------------- superstep
def cmd_superstep(algo: str) -> None:
    spark = _spark()
    edges = bench.bench_edges(spark)
    t0 = time.time()
    if algo == "pagerank":
        from aduana_spark.graph.pagerank import pagerank

        res = pagerank(edges, precision=1e-6, max_iters=60)
    elif algo == "hits":
        from aduana_spark.graph.hits import hits

        res = hits(edges, precision=1e-4, max_iters=40)
        res.ranks.count()
    elif algo == "cc":
        from aduana_spark.graph.components import connected_components

        res = connected_components(edges)
        res.ranks.count()
    else:
        raise SystemExit(f"unknown algo {algo}")
    total = time.time() - t0
    walls = [round(m.wall_sec, 3) for m in res.metrics]
    print(
        json.dumps(
            {
                "algo": algo,
                "executor": res.executor,
                "total": round(total, 3),
                "supersteps": len(walls),
                "walls": walls,
                "setup_plus_tail": round(total - sum(walls), 3),
            }
        )
    )
    spark.stop()


# ---------------------------------------------------------------- commit
def _crawl_batch(spark, first: int, pages: int):
    """``pages`` crawled pages from page ``first`` on, each linking 9
    pages that nothing else links."""
    return spark.range(first, first + pages).select(
        F.col("id").alias("crawl_order"),
        F.format_string("https://d%d.org/p%d", F.col("id") % 1000, F.col("id")).alias("url"),
        F.transform(
            F.sequence(F.lit(1), F.lit(9)),
            lambda k: F.struct(
                F.format_string("https://d%d.org/p%d/l%d", F.col("id") % 1000,
                                F.col("id"), k).alias("url"),
                (k / 10.0).alias("score"),
            ),
        ).alias("links"),
        F.lit(0.5).alias("page_score"),
        F.unhex(F.lit("ab")).alias("content_hash"),
        F.lit("2026-01-01").cast("timestamp").alias("ts"),
    )


def cmd_commit(sizes: list[int], commits: int = 5) -> None:
    from aduana_spark.frontier import page_info
    from aduana_spark.frontier.bf_scheduler import BFSchedulerView

    spark = _spark()
    tracker = spark.sparkContext.statusTracker()
    for pages in sizes:
        for executor, bound in (("spark", -1), ("local", 10**9)):
            page_info.LOCAL_MAX_ROWS = -1
            view = BFSchedulerView(spark)
            view.add(_crawl_batch(spark, 0, pages))
            page_info.LOCAL_MAX_ROWS = bound
            walls, jobs = [], []
            for i in range(commits):
                batch = _crawl_batch(spark, pages + 10 * i, 10).persist()
                batch.count()
                before = set(tracker.getJobIdsForGroup())
                t0 = time.time()
                view.add(batch)
                walls.append(round(time.time() - t0, 3))
                jobs.append(len(set(tracker.getJobIdsForGroup()) - before))
                assert view.page_db.last_commit.executor == executor
                batch.unpersist()
            rows = view.page_db.last_commit.page_info_rows
            print(json.dumps({
                "pages": pages, "page_info_rows": rows, "executor": executor,
                "walls": walls, "jobs": jobs,
                "driver_max_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss >> 10,
            }), flush=True)
            del view
    spark.stop()


def cmd_pop(sizes: list[int], pops: int = 5) -> None:
    from aduana_spark.frontier import page_info
    from aduana_spark.frontier.bf_scheduler import BFSchedulerView

    spark = _spark()
    tracker = spark.sparkContext.statusTracker()
    for pages in sizes:
        page_info.LOCAL_MAX_ROWS = -1
        store = BFSchedulerView(spark).page_db
        batch = _crawl_batch(spark, 0, pages).persist()
        store.add_batch(batch)
        batch.unpersist()
        for executor, bound in (("spark", -1), ("local", 10**9)):
            page_info.LOCAL_MAX_ROWS = bound
            view = BFSchedulerView(spark, page_db=store)
            walls, jobs = [], []
            for _ in range(pops):
                before = set(tracker.getJobIdsForGroup())
                t0 = time.time()
                got = view.requests(10)
                walls.append(round(time.time() - t0, 3))
                jobs.append(len(set(tracker.getJobIdsForGroup()) - before))
                assert view.last_pop.executor == executor and len(got) == 10
            print(json.dumps({
                "pages": pages, "page_info_rows": store.rows("page_info"),
                "executor": executor, "walls": walls, "jobs": jobs,
                "driver_max_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss >> 10,
            }), flush=True)
        del store
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        rep = int(os.environ.get("BE_REPEATS", "3"))
        cmd_queries(sys.argv[2:], repeats=rep)
    elif cmd == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif cmd == "superstep":
        cmd_superstep(sys.argv[2])
    elif cmd == "commit":
        cmd_commit([int(a) for a in sys.argv[2:]] or [1_000, 10_000, 100_000])
    elif cmd == "pop":
        cmd_pop([int(a) for a in sys.argv[2:]] or [1_000, 10_000, 100_000])
    else:
        raise SystemExit(f"unknown command {cmd}")
