"""Synchronous label propagation (north-rule extension).

Community detection over the undirected projection: every vertex
starts with its own id as label; each superstep adopts the most
frequent label among its neighbors, ties broken by the smallest label
(deterministic — unlike networkx's asynchronous LPA, which is
order-dependent; tests therefore assert structural properties, e.g.
two planted cliques each converge to one label).

Superstep = join + two aggregations, all map-side combinable:

    counts[v, l] = Σ_{(u,v)} [label[u] = l]
    label'[v]    = argmax_l (counts, tie → min l)   via max(struct(cnt, -l))
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.components import symmetrize
from aduana_spark.graph.superstep import IterativeResult, SuperstepLoop


def _candidate(sym: DataFrame, state: DataFrame) -> DataFrame:
    """One superstep's label counts and mode per vertex →
    (id, old, label)."""
    counts = (
        sym.join(state.select(F.col("id").alias("src"), F.col("label").alias("l")), "src")
        .groupBy("dst", "l")
        .agg(F.count("*").alias("cnt"))
    )
    best = (
        counts.groupBy("dst")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("l")).alias("nl"))).alias("b"))
        .select(F.col("dst").alias("id"), (-F.col("b.nl")).alias("new_label"))
    )
    return state.join(best, "id", "left").select(
        "id",
        F.col("label").alias("old"),
        F.coalesce("new_label", F.col("label")).alias("label"),
    )


def label_propagation(
    edges: DataFrame,
    max_iters: int = 10,
    directed: bool = False,
    checkpoint: CheckpointManager | str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> IterativeResult:
    """Returns ranks DataFrame (id, label). ``checkpoint``/``resume``:
    per-superstep shards + mid-iteration warm start (synchronous LP is
    a deterministic function of the previous label vector, so resuming
    from shard K reproduces the uninterrupted trajectory exactly)."""
    spark = edges.sparkSession
    with SuperstepLoop(spark, "labelprop", checkpoint, checkpoint_interval) as loop:
        sym = loop.edge_cache(edges if directed else symmetrize(edges), "src")
        loop.narrow()
        verts = (
            sym.select(F.col("src").alias("id"))
            .unionAll(sym.select(F.col("dst").alias("id")))
            .distinct()
        )
        prev = loop.resume(resume)
        if prev is not None:
            state = verts.join(prev.select("id", "label"), "id", "left").select(
                "id", F.coalesce("label", F.col("id")).alias("label")
            )
        else:
            state = verts.select("id", F.col("id").alias("label"))
        state = loop.cache(state, supersteps=1)
        loop.n_vertices = state.count()

        for _ in loop.supersteps(max_iters):
            # truncated; the changed count below materializes it
            cand = _candidate(sym, state).localCheckpoint(eager=False)
            changed = cand.where(F.col("label") != F.col("old")).count()
            state = loop.end(cand.select("id", "label"), changed, changed == 0)
        return loop.result(state)
