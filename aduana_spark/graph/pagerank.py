"""Iterative PageRank with aduana's exact numeric semantics.

Reference: ``page_rank_compute`` /root/reference/lib/src/page_rank.c
(init 183-256, superstep 258-330, end-loop 332-392, driver 394-440).
Per superstep over edges (f → t)::

    value2[t]  = Σ  damping * value1[f] / out_degree[f]
    rem        = 1 - Σ value2                       # teleport + dangling mass
    value2[i] += rem / N                            # uniform
    value2[i] += rem * score[i] / total_score       # personalized variant
    delta      = max_i |value2[i] - value1[i]|      # L∞
    stop when delta <= precision; error at max_loops (default 100)

The remainder step implements BOTH the (1-damping) teleport and the
redistribution of dangling-node mass in one pass (worked example in
test_page_rank.c:10-67) — naive per-node (1-d)/N does NOT reproduce
the fixtures.

Inputs of at most ``LOCAL_MAX_EDGES`` rows (``graph.superstep``)
converge on the driver: one bounded Arrow fetch, then each superstep
is a few numpy lines over dense vertex indices with ``np.bincount`` as
the Σ aggregate. On a crawl-sized
graph the Spark superstep below is ~1 s of job and stage overhead, not
data. Checkpoint shards, manifests and resume are the Spark loop's, so
either loop resumes from the other's shard.

Spark execution per superstep (designed for ~10^12-edge tables):

- ``edges`` is hash-partitioned by ``src`` once and persisted; the
  per-iteration join re-shuffles only the V-row state, not the E-row
  edge table.
- the contribution aggregation is ``groupBy(dst).sum`` — map-side
  partial aggregation means a hub page with 10^9 in-links receives at
  most one partial row per map partition.
- ONE Spark job per superstep on the uniform-teleport path: the
  single aggregate that executes the E-row join also returns
  (Σ value2, max d, min d) with d_i = raw_i − old_i, from which both
  the remainder and the exact L∞ delta follow on the driver —
  max_i |d_i + c| = max(|max d + c|, |min d + c|) because the
  remainder term c = rem/N is one shared constant and fl(x+c) is
  monotone in x. The new state is lazily local-checkpointed
  (truncating logical lineage — without truncation Catalyst
  re-analyzes an exponentially deepening self-join tree) and
  materializes inside the NEXT superstep's job. The personalized
  variant (per-row rem·score/total) does not decompose and keeps the
  two-job superstep: E-join + Σ aggregate, then the L∞ delta scan
  over the cached candidate.
- every ``checkpoint_interval`` iterations the state is additionally
  written as a parquet shard + manifest (delta, wall, edges/sec),
  enabling durable mid-iteration resume.
- every exchange runs at the session's shuffle width; AQE handles
  runtime skew splitting and partition coalescing.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.builder import out_degrees
from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.superstep import (
    IterativeResult,
    SuperstepLoop,
    SuperstepMetrics,
    scatter,
)


def _vertex_state(
    edges: DataFrame, scores: DataFrame | None, vertices: DataFrame | None
) -> tuple[DataFrame, float]:
    """Static vertex state (id, deg, score) and the teleport score
    total."""
    if vertices is None:
        # fused vertex-set + out-degree pass: tag each endpoint row with
        # its degree contribution (src rows 1, dst/score rows 0) and
        # groupBy-sum once — ONE map-side-combinable shuffle over the 2E
        # endpoint rows replaces the former distinct-over-2E shuffle +
        # groupBy-over-E shuffle + vertex⋈degree join (deg values are
        # identical: Σ marks = #src occurrences, 0 for dangling)
        marks = edges.select(F.col("src").alias("id"), F.lit(1).alias("_m")).unionAll(
            edges.select(F.col("dst").alias("id"), F.lit(0).alias("_m"))
        )
        if scores is not None:
            marks = marks.unionAll(scores.select("id", F.lit(0).alias("_m")))
        vstate = marks.groupBy("id").agg(F.sum("_m").alias("deg"))
    else:
        vstate = vertices.select("id").distinct().join(
            out_degrees(edges), "id", "left"
        ).select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
    if scores is None:
        return vstate.withColumn("score", F.lit(0.0)), 1.0
    vstate = vstate.join(scores.select("id", "score"), "id", "left").select(
        "id", "deg", F.coalesce(F.col("score").cast("double"), F.lit(0.0)).alias("score")
    )
    # a zero total falls back to 1.0 (page_rank.c:204-206)
    return vstate, scores.agg(F.sum("score")).first()[0] or 1.0


def _candidate(edges: DataFrame, state: DataFrame, damping: float) -> DataFrame:
    """One superstep's E-row join + Σ aggregate: (id, deg, score,
    old_rank, raw) with raw = damping · Σ in-link messages."""
    # dangling vertices (deg=0) emit nothing — their mass lands in rem
    msg_src = state.where(F.col("deg") > 0).select(
        F.col("id").alias("src"), (F.col("rank") / F.col("deg")).alias("m")
    )
    joined = edges.join(msg_src, "src")
    contrib = joined.groupBy("dst").agg((F.lit(damping) * F.sum("m")).alias("raw"))
    return state.join(contrib.withColumnRenamed("dst", "id"), "id", "left").select(
        "id",
        "deg",
        "score",
        F.col("rank").alias("old_rank"),
        F.coalesce("raw", F.lit(0.0)).alias("raw"),
    )


def _pagerank_local(
    loop: SuperstepLoop,
    cols: list,
    damping: float,
    precision: float,
    max_iters: int,
    resume: bool,
    strict: bool,
) -> IterativeResult:
    """The whole loop on the driver over ``fetch_local``'s arrays, with
    the vertex universe, degrees and scores of :func:`_vertex_state`."""
    import pyarrow as pa

    src, dst, score_ids, score_vals, vertex_ids = cols
    if vertex_ids is None and score_ids is not None:
        vertex_ids = np.concatenate([src, dst, score_ids])
    ids, s, d, deg = loop.local_graph(src, dst, vertex_ids)
    score, total_score = np.zeros(len(ids)), 1.0
    if score_ids is not None:
        score = scatter(ids, score_ids, score_vals)
        # a zero total falls back to 1.0 (page_rank.c:204-206)
        total_score = float(score_vals.sum()) or 1.0

    prev = loop.resume(resume, ids)
    if prev is not None:
        # renormalize (page_rank.c:234-248 — warm start after growth)
        rank = prev["rank"] / prev["rank"].sum()
    else:
        rank = np.full(len(ids), 1.0 / len(ids))

    for _ in loop.supersteps(max_iters):
        # the numpy twin of _candidate and the rank update; dangling
        # vertices (deg=0) emit nothing — their mass lands in rem
        m = np.divide(rank, deg, out=np.zeros_like(rank), where=deg > 0)
        raw = damping * np.bincount(d, weights=m[s], minlength=len(rank))
        rem = 1.0 - raw.sum()
        if score_ids is None:
            new = raw + rem / len(rank)
        else:
            new = raw + rem * score / total_score
        delta, rank = float(np.abs(new - rank).max()), new
        loop.end(
            pa.table({"id": ids, "deg": deg, "score": score, "rank": rank}),
            delta,
            delta <= precision,
            damping=damping,
        )
    return loop.local_result({"id": ids, "rank": rank}, ("rank",), strict, precision)


def _uniform_sums(cand: DataFrame) -> DataFrame:
    """The uniform-teleport superstep's one job: Σ raw, max d, min d
    with d = raw − old_rank."""
    return cand.agg(
        F.sum("raw").alias("s"),
        F.max(F.col("raw") - F.col("old_rank")).alias("dmax"),
        F.min(F.col("raw") - F.col("old_rank")).alias("dmin"),
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    precision: float = 1e-4,
    max_iters: int = 100,
    scores: DataFrame | None = None,
    vertices: DataFrame | None = None,
    checkpoint: CheckpointManager | str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    strict: bool = False,
    on_superstep: Callable[[SuperstepMetrics], None] | None = None,
) -> IterativeResult:
    """Compute PageRank over an ``(src LONG, dst LONG)`` edge table.

    ``on_superstep``: optional progress hook invoked with each
    superstep's :class:`SuperstepMetrics` as it completes — lets a
    long job stream progress/evidence out instead of holding it until
    convergence (a killed job keeps everything reported so far).

    ``scores``: optional (id, score) content scores → personalized
    teleport (page_rank.c:359-366); total falls back to 1.0 when the
    scores sum to zero (page_rank.c:204-206).
    ``vertices``: optional (id) vertex universe; defaults to the ids
    appearing in edges ∪ scores (the reference sizes its arrays by
    max id seen on the stream, page_rank.c:218-223).
    ``checkpoint``: CheckpointManager or base dir; enables shard
    writes and ``resume=True``.
    """
    spark = edges.sparkSession
    with SuperstepLoop(
        spark, "pagerank", checkpoint, checkpoint_interval, on_superstep
    ) as loop:
        edges, cols = loop.fetch_local(edges, scores, vertices)
        if cols is not None:
            return _pagerank_local(
                loop, cols, damping, precision, max_iters, resume, strict
            )
        edges = loop.edge_cache(edges, "src")
        vstate, total_score = _vertex_state(edges, scores, vertices)
        # no explicit repartition: every branch of _vertex_state ends
        # hash-partitioned by id already (groupBy / equi-join output)
        vstate = loop.cache(vstate)
        loop.n_vertices = vstate.count()

        prev = loop.resume(resume)
        if prev is not None:
            prev = prev.select("id", "rank")
            # renormalize (page_rank.c:234-248 — warm start after growth)
            s = prev.agg(F.sum("rank")).first()[0]
            state = vstate.join(prev, "id", "left").select(
                "id",
                "deg",
                "score",
                (F.coalesce("rank", F.lit(0.0)) / F.lit(s)).alias("rank"),
            )
        else:
            state = vstate.withColumn("rank", F.lit(1.0 / loop.n_vertices))
        state = loop.cache(state, supersteps=1)

        for _ in loop.supersteps(max_iters):
            # personalized: cand is materialized by this superstep's
            # second job; uniform: it backs the lazy localCheckpoint
            # that materializes inside the NEXT superstep's job
            cand = loop.cache(
                _candidate(edges, state, damping),
                supersteps=0 if scores is not None else 1,
            )
            if scores is not None:
                # personalized teleport: rem·score/total varies per row, so
                # the L∞ delta needs the new ranks — two jobs per superstep.
                # Job 1 (the only one touching the E-row join): materialize
                # cand into the cache while collecting Σ value2 → rem
                rem = 1.0 - (cand.agg(F.sum("raw")).first()[0] or 0.0)
                rank = F.col("raw") + F.lit(rem) * F.col("score") / F.lit(total_score)
                # materialize + truncate logical lineage (without this,
                # Catalyst re-analyzes an exponentially deepening self-join
                # tree and superstep latency explodes around iteration ~15)
                new_state_full = cand.select(
                    "id", "deg", "score", "old_rank", rank.alias("rank")
                ).localCheckpoint(eager=False)
                # Job 2: L∞ delta over the materialized rows (tiny)
                delta = new_state_full.agg(
                    F.max(F.abs(F.col("rank") - F.col("old_rank")))
                ).first()[0]
            else:
                # uniform teleport: rank_i = raw_i + c with ONE shared
                # constant c = rem/N, so with d_i = raw_i − old_i the L∞
                # delta decomposes into pre-barrier aggregates:
                #   max_i |d_i + c| = max(|max_i d_i + c|, |min_i d_i + c|)
                # (fl(x+c) is monotone in x, so the float max over rows
                # equals the endpoint evaluation). ONE Spark job per
                # superstep returns Σraw/max d/min d; the new ranks are
                # bit-identical to the two-job form — only the delta's
                # association changes, by ≤1 ulp. The lazy localCheckpoint
                # below materializes inside the NEXT superstep's (or the
                # caller's) first action, so per-superstep work is
                # unchanged in steady state while one whole job launch +
                # V-row scan disappears per superstep.
                agg = _uniform_sums(cand).first()
                c = (1.0 - (agg["s"] or 0.0)) / float(loop.n_vertices)
                delta = max(
                    abs((agg["dmax"] or 0.0) + c), abs((agg["dmin"] or 0.0) + c)
                )
                new_state_full = cand.select(
                    "id",
                    "deg",
                    "score",
                    "old_rank",
                    (F.col("raw") + F.lit(c)).alias("rank"),
                ).localCheckpoint(eager=False)
            state = loop.end(
                new_state_full.select("id", "deg", "score", "rank"),
                delta,
                delta <= precision,
                damping=damping,
            )
        return loop.result(state.select("id", "rank"), strict, precision)
