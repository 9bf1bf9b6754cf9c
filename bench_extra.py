#!/usr/bin/env python
"""Supplementary measurement harness for the optimization round.

``bench.py`` is FROZEN (the driver times the round with the
round-start copy), so every extra experiment lives here:

- ``queries [name ...]``: run individual headline queries with
  repeats, printing per-attempt walls (guide §1.1: measure first).
- ``plans <out_dir> [name ...]``: capture ``.explain("formatted")``
  for each query's final DataFrame into ``<out_dir>/<name>.txt``
  (the committed plan evidence under ``plans/r06/``).
- ``superstep <algo>``: per-superstep wall breakdown for the
  iterative algorithms (pagerank / hits / cc) on the bench graph.

Usage: python bench_extra.py queries minhash_lsh_10x media_decode_2k
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402  (frozen harness: reuse its query definitions)

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def _spark():
    s = bench._session(CPUS, shuffle_partitions=2 * CPUS)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- queries
# Each entry returns a zero-arg callable that runs the query exactly the
# way bench.run_headline does (same action), so walls are comparable.


def _query_runners(spark):
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

    edges = bench.bench_edges(spark)
    docs = bench._t(spark, "documents")
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
    emb = bench._t(spark, "embeddings")
    orders = bench._t(spark, "orders")
    li = bench._t(spark, "lineitem")
    mod = li.select(
        (F.col("l_partkey") % 500).cast("long").alias("src"),
        (F.col("l_suppkey") % 500).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))

    def media_df():
        d = docs.select("doc_id").limit(2000)
        return (
            extract_media_features(synthesize_media(d), dim=16, decoder="real")
            .where(F.col("feature").isNotNull())
        )

    def ivf_build():
        cents = kmeans_centroids(emb, k=16, iters=3, seed=7)
        cells = add_ivf_cells(emb, cents).persist()
        cells.count()
        cells.unpersist()

    qvec_holder = {}

    def qvec():
        if "v" not in qvec_holder:
            qvec_holder["v"] = list(
                emb.where(F.col("vec_id") == 0).first()["embedding"]
            )
        return qvec_holder["v"]

    return {
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
        "embedding_topk": lambda: brute_force_topk(emb, qvec(), k=10).collect(),
        "ivf_build_cells": ivf_build,
        "extract_5k_pages": lambda: raw_edges(
            extract_pages(synth_pages(spark, n_pages=5000, n_domains=200))
        ).count(),
        "media_decode_2k": lambda: media_df().count(),
    }


def cmd_queries(names: list[str], repeats: int = 3) -> None:
    spark = _spark()
    runners = _query_runners(spark)
    names = names or list(runners)
    out = {}
    for name in names:
        fn = runners[name]
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
    cache and loop width, and the algorithm's own setup and
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
            loop.narrow()
            state = vstate.withColumn("rank", F.lit(1.0 / n_vertices))
            cand = pr_candidate(edges, state, 0.85, None)
            return _explain_str(_uniform_sums(cand))
        if algo == "hits":
            edges_by_src = loop.edge_cache(edges_raw, "src")
            edges_by_dst = loop.edge_cache(edges_raw, "dst")
            verts = loop.cache(_vertices(edges_by_src, None, None))
            n_vertices = verts.count()
            loop.narrow()
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
            loop.narrow()
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
                "total": round(total, 3),
                "supersteps": len(walls),
                "walls": walls,
                "setup_plus_tail": round(total - sum(walls), 3),
            }
        )
    )
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
    else:
        raise SystemExit(f"unknown command {cmd}")
