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

Up to ``LOCAL_MAX_EDGES`` edges (``graph.superstep``) the superstep
runs in numpy on the driver, with the same tie rule.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.components import propagate
from aduana_spark.graph.superstep import IterativeResult, SuperstepLoop


def _candidate(sym: DataFrame, state: DataFrame, _frontier: DataFrame) -> DataFrame:
    """One superstep's label counts and mode per vertex →
    (id, old, label). The mode needs every neighbour's label, not just
    the frontier's."""
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


def _local_superstep(s: np.ndarray, d: np.ndarray, label: np.ndarray) -> np.ndarray:
    """The numpy twin of :func:`_candidate` on dense vertex indices."""
    labels, li = np.unique(label, return_inverse=True)
    # counts[v, l], keyed v * len(labels) + l
    key, cnt = np.unique(d * len(labels) + li[s], return_counts=True)
    v, l = np.divmod(key, len(labels))
    # max(struct(cnt, -l)) per receiver: its largest count, then its
    # smallest label, sorts first
    o = np.lexsort((l, -cnt, v))
    v, first = np.unique(v[o], return_index=True)
    new = label.copy()
    new[v] = labels[l[o][first]]
    return new


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
        return propagate(
            loop, edges, not directed, "label", _local_superstep, _candidate,
            max_iters, resume,
        )
