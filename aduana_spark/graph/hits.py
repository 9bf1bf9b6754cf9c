"""Iterative HITS with aduana's exact numeric semantics.

Reference: ``hits_compute`` /root/reference/lib/src/hits.c (init
97-120, superstep loop 195-251, normalize/delta 253-330, driver
338-360). Per superstep, **Jacobi style** — both updates read the
previous iteration's vectors::

    h2[f] = Σ_{f→t} a1[t]            # or score[t] * a1[t] when content
                                     # scores attached (hits.c:222-233)
    a2[t] = Σ_{f→t} h1[f]
    h2   /= Σ h2                     # L1 normalization, NOT textbook L2
    a2   /= Σ a2
    delta = max(L∞(h2-h1), L∞(a2-a1)); stop when delta <= precision

Init: h1 = a1 = 1/N (hits.c:97-110). The scheduler score is the
**authority** value (hits_scorer.c:109-112). The HitsScorer tolerates
non-convergence (hits_scorer.c:73-76) — hence ``strict=False``
default here too.

Execution mirrors ``pagerank``, with the same two executors:

- **local**, at most ``LOCAL_MAX_EDGES`` rows per input
  (``graph.superstep``): one bounded Arrow fetch, then every superstep
  is two ``np.bincount`` calls on the driver instead of two Spark jobs
  of mostly fixed cost.
- **spark**, above the bound: edges persisted partitioned by src; per
  superstep two join+aggregate pipelines (hub messages grouped by src,
  authority messages grouped by dst), both with map-side partial
  aggregation; state persisted per iteration.

Both checkpoint the state (id, score, hub, auth) every
``checkpoint_interval`` supersteps, in one shard format.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.superstep import (
    IterativeResult,
    SuperstepLoop,
    scatter,
)


def _vertices(
    edges: DataFrame, scores: DataFrame | None, vertices: DataFrame | None
) -> DataFrame:
    """(id, score) over the vertex universe; score 1.0 without content
    scores."""
    if vertices is None:
        verts = (
            edges.select(F.col("src").alias("id"))
            .unionAll(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        verts = vertices.select("id").distinct()
    if scores is None:
        return verts.withColumn("score", F.lit(1.0))
    return verts.join(scores.select("id", "score"), "id", "left").select(
        "id", F.coalesce("score", F.lit(0.0)).alias("score")
    )


def _candidate(
    edges_by_src: DataFrame, edges_by_dst: DataFrame, state: DataFrame, weighted: bool
) -> DataFrame:
    """One Jacobi superstep's two E-row joins + Σ aggregates:
    (id, score, old_hub, old_auth, hub_raw, auth_raw)."""
    # hub messages: weight of edge f→t is (score[t] *) a1[t]
    am = (F.col("score") * F.col("auth")) if weighted else F.col("auth")
    a_side = state.select(F.col("id").alias("dst"), am.alias("am"))
    hub_raw = (
        edges_by_dst.join(a_side, "dst").groupBy("src").agg(F.sum("am").alias("hub_raw"))
    )
    # authority messages: h1[f]
    h_side = state.select(F.col("id").alias("src"), F.col("hub").alias("hm"))
    auth_raw = (
        edges_by_src.join(h_side, "src").groupBy("dst").agg(F.sum("hm").alias("auth_raw"))
    )
    return (
        state.join(hub_raw.withColumnRenamed("src", "id"), "id", "left")
        .join(auth_raw.withColumnRenamed("dst", "id"), "id", "left")
        .select(
            "id",
            "score",
            F.col("hub").alias("old_hub"),
            F.col("auth").alias("old_auth"),
            F.coalesce("hub_raw", F.lit(0.0)).alias("hub_raw"),
            F.coalesce("auth_raw", F.lit(0.0)).alias("auth_raw"),
        )
    )


def _hits_local(
    loop: SuperstepLoop,
    cols: list,
    precision: float,
    max_iters: int,
    resume: bool,
    strict: bool,
) -> IterativeResult:
    """The whole loop on the driver over ``fetch_local``'s arrays, with
    the vertex universe and scores of :func:`_vertices`."""
    import pyarrow as pa

    src, dst, score_ids, score_vals, vertex_ids = cols
    ids, s, d, _ = loop.local_graph(src, dst, vertex_ids)
    n = len(ids)
    score = np.ones(n) if score_ids is None else scatter(ids, score_ids, score_vals)

    prev = loop.resume(resume, ids)
    if prev is None:
        hub, auth = np.full(n, 1.0 / n), np.full(n, 1.0 / n)
    else:
        hub, auth = prev["hub"], prev["auth"]

    for _ in loop.supersteps(max_iters):
        # the numpy twin of _candidate and the L1 update. Hub messages:
        # weight of edge f→t is score[t] * a1[t] (score 1.0 unweighted)
        hub_raw = np.bincount(s, weights=(score * auth)[d], minlength=n)
        # authority messages: h1[f]
        auth_raw = np.bincount(d, weights=hub[s], minlength=n)
        new_hub = hub_raw / (hub_raw.sum() or 1.0)
        new_auth = auth_raw / (auth_raw.sum() or 1.0)
        delta = float(max(np.abs(new_hub - hub).max(), np.abs(new_auth - auth).max()))
        hub, auth = new_hub, new_auth
        loop.end(
            pa.table({"id": ids, "score": score, "hub": hub, "auth": auth}),
            delta,
            delta <= precision,
        )
    ranks = {"id": ids, "hub": hub, "auth": auth}
    return loop.local_result(ranks, strict=strict, precision=precision)


def _sums(cand: DataFrame) -> DataFrame:
    """The L1 normalizers Σ hub_raw and Σ auth_raw."""
    return cand.agg(F.sum("hub_raw").alias("hs"), F.sum("auth_raw").alias("as_"))


def hits(
    edges: DataFrame,
    precision: float = 1e-4,
    max_iters: int = 100,
    scores: DataFrame | None = None,
    vertices: DataFrame | None = None,
    checkpoint: CheckpointManager | str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    strict: bool = False,
) -> IterativeResult:
    """HITS hub/authority over (src LONG, dst LONG). Returns ranks
    DataFrame (id, hub, auth)."""
    spark = edges.sparkSession
    with SuperstepLoop(spark, "hits", checkpoint, checkpoint_interval) as loop:
        edges, cols = loop.fetch_local(edges, scores, vertices)
        if cols is not None:
            return _hits_local(loop, cols, precision, max_iters, resume, strict)
        # two cached copies, each pre-partitioned AND pre-sorted on its
        # join key (hub messages join on dst, authority messages on src)
        edges_by_src = loop.edge_cache(edges, "src")
        edges_by_dst = loop.edge_cache(edges, "dst")
        # no explicit repartition: hash-partitioned by id already
        # (distinct / equi-join output)
        verts = loop.cache(_vertices(edges_by_src, scores, vertices))
        loop.n_vertices = verts.count()

        state = loop.resume(resume)
        if state is None:
            state = verts.select(
                "id",
                "score",
                F.lit(1.0 / loop.n_vertices).alias("hub"),
                F.lit(1.0 / loop.n_vertices).alias("auth"),
            )
        state = loop.cache(state, supersteps=1)

        for _ in loop.supersteps(max_iters):
            cand = loop.cache(
                _candidate(edges_by_src, edges_by_dst, state, scores is not None),
                supersteps=0,
            )
            # Job 1 (the only one touching the E-row joins): materialize
            # cand into the cache while collecting the L1 sums
            sums = _sums(cand).first()
            hub_sum = sums["hs"] or 1.0
            auth_sum = sums["as_"] or 1.0
            # materialize + truncate logical lineage (see pagerank.py note)
            new_state_full = cand.select(
                "id",
                "score",
                "old_hub",
                "old_auth",
                (F.col("hub_raw") / F.lit(hub_sum)).alias("hub"),
                (F.col("auth_raw") / F.lit(auth_sum)).alias("auth"),
            ).localCheckpoint(eager=False)
            delta = new_state_full.agg(
                F.max(
                    F.greatest(
                        F.abs(F.col("hub") - F.col("old_hub")),
                        F.abs(F.col("auth") - F.col("old_auth")),
                    )
                )
            ).first()[0]
            state = loop.end(
                new_state_full.select("id", "score", "hub", "auth"),
                delta,
                delta <= precision,
            )
        return loop.result(state.select("id", "hub", "auth"), strict, precision)
