"""Connected components by iterated min-id propagation (SURVEY.md
§2.10 — north-rule extension; no counterpart in the reference, which
promises "other ranking algorithms based on the link structure",
README.md:3-6).

Semantics: weakly connected components of the directed edge table —
each vertex is labeled with the smallest vertex id in its component
(exact oracle: ``networkx.weakly_connected_components``).

Algorithm: min-label propagation over the symmetrized edge set.
Each superstep::

    label'[v] = min(label[v], min_{(u,v) ∈ E_sym} label[u])

converging in O(diameter) supersteps (web graphs: ~15-25). Up to
``LOCAL_MAX_EDGES`` edges (``graph.superstep``) a superstep is one
``np.minimum.at`` on the driver; above, one join + min-aggregate with
map-side partial aggregation. Convergence is detected by counting
changed labels. For graphs with
pathological diameters, the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond") converges in O(log²) rounds — min-propagation is the
reference-shaped default because crawl graphs are shallow.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.superstep import IterativeResult, SuperstepLoop


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected projection: edges ∪ reversed(edges), deduplicated."""
    return (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
    )


def _candidate(sym: DataFrame, state: DataFrame, frontier: DataFrame) -> DataFrame:
    """One min-propagation superstep: the frontier's labels sent along
    ``sym``, min-aggregated per receiver → (id, old, component)."""
    msgs = (
        sym.join(
            frontier.select(F.col("id").alias("src"), F.col("component").alias("c")),
            "src",
        )
        .groupBy("dst")
        .agg(F.min("c").alias("nbr_min"))
        .withColumnRenamed("dst", "id")
    )
    return state.join(msgs, "id", "left").select(
        "id",
        F.col("component").alias("old"),
        F.least("component", F.coalesce("nbr_min", F.col("component"))).alias(
            "component"
        ),
    )


def propagate(
    loop: SuperstepLoop,
    edges: DataFrame,
    symmetric: bool,
    col: str,
    local_step: Callable,
    candidate: Callable,
    max_iters: int,
    resume: bool,
) -> IterativeResult:
    """The label loop of components and label propagation over
    ``edges``, first made :func:`symmetrize`'s undirected projection
    when ``symmetric``. Every vertex starts with its own id as its
    label ``col``, as does one the resumed shard lacks (graph growth),
    and the loop stops at the first superstep that changes no label. A
    local superstep is ``local_step(src, dst, labels)`` on dense
    indices; a Spark one is ``candidate(sym, state, frontier)`` → (id,
    old, col), where the frontier holds the vertices the last
    superstep changed."""
    edges, cols = loop.fetch_local(edges)
    if cols is not None:
        import pyarrow as pa

        ids, s, d, _ = loop.local_graph(cols[0], cols[1])
        if symmetric:  # symmetrize: both directions of every edge, once
            n = len(ids)
            s, d = np.divmod(np.unique(np.concatenate([s * n + d, d * n + s])), n)
            loop.n_edges = len(s)
        prev = loop.resume(resume, ids, fill=ids)
        label = ids if prev is None else prev[col]
        for _ in loop.supersteps(max_iters):
            new = local_step(s, d, label)
            changed = int((new != label).sum())
            label = new
            loop.end(pa.table({"id": ids, col: label}), changed, changed == 0)
        return loop.local_result({"id": ids, col: label})

    sym = loop.edge_cache(symmetrize(edges) if symmetric else edges, "src")
    verts = (
        sym.select(F.col("src").alias("id"))
        .unionAll(sym.select(F.col("dst").alias("id")))
        .distinct()
    )
    state = verts.select("id", F.col("id").alias(col))
    prev = loop.resume(resume)
    if prev is not None:
        state = verts.join(prev.select("id", col), "id", "left").select(
            "id", F.coalesce(col, F.col("id")).alias(col)
        )
    # no explicit repartition: both are hash-partitioned by id already
    # (distinct / equi-join output)
    state = loop.cache(state, supersteps=1)
    loop.n_vertices = state.count()
    frontier = state
    for _ in loop.supersteps(max_iters):
        # truncated; the changed count below materializes it
        cand = candidate(sym, state, frontier).localCheckpoint(eager=False)
        frontier = cand.where(F.col(col) != F.col("old")).select("id", col)
        changed = frontier.count()
        state = loop.end(cand.select("id", col), changed, changed == 0)
    return loop.result(state)


def _local_superstep(s: np.ndarray, d: np.ndarray, comp: np.ndarray) -> np.ndarray:
    """The numpy twin of :func:`_candidate` on dense vertex indices."""
    new = comp.copy()
    np.minimum.at(new, d, comp[s])
    return new


def connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    checkpoint: CheckpointManager | str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> IterativeResult:
    """Returns ranks DataFrame (id, component) — component = min id in
    the weakly connected component.

    O(diameter) min-label propagation — right for shallow crawl
    graphs. High-diameter graphs take
    ``connected_components_two_phase`` (alternating
    large-star/small-star, Kiveris et al., O(log²) rounds).
    ``resume=True`` warm-starts from the latest checkpoint shard
    (north-rule mid-iteration resume, like pagerank/hits): min-label
    propagation is monotone — labels only decrease — so resuming from
    any shard converges to the identical fixpoint.
    """
    spark = edges.sparkSession
    with SuperstepLoop(spark, "components", checkpoint, checkpoint_interval) as loop:
        # Delta propagation: only a vertex whose label changed in the last
        # superstep sends it. A label already delivered was folded into
        # the receiver's (monotone, non-increasing) label, so a message
        # from an unchanged vertex can never win the min: the labels and
        # changed counts per superstep are those of sending from every
        # vertex, while the join and shuffle shrink with the frontier.
        # The first superstep, resumed or not, sends from everyone.
        return propagate(
            loop, edges, True, "component", _local_superstep, _candidate,
            max_iters, resume,
        )


def _large_star(sym: DataFrame) -> DataFrame:
    """For each u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
    ``sym`` must contain both directions of every edge."""
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """Input edges point large→small (src > dst). For each u:
    m = min(N(u) ∪ {u}) over its smaller neighbors; emit (v, m) for
    v ∈ N(u) ∪ {u}, v ≠ m."""
    mins = directed.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    joined = directed.join(mins, "src")
    nbr_edges = joined.select(F.col("dst").alias("v"), F.col("m"))
    self_edges = mins.select(F.col("src").alias("v"), F.col("m"))
    return (
        nbr_edges.unionAll(self_edges)
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _signature(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive (count, xor-hash) of an edge list."""
    r = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ).first()
    return (r["n"], r["h"])


def connected_components_two_phase(
    edges: DataFrame,
    max_iters: int = 40,
    checkpoint: CheckpointManager | str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> IterativeResult:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log² n) rounds independent of graph diameter, so a
    10^12-edge graph with a long-tail path structure still finishes in
    ~dozens of rounds where min-propagation would need thousands.

    Each round is two groupBy-min + join passes over the shrinking
    edge list; convergence = the small-star output is a stable
    star forest (edge multiset unchanged, detected by count +
    order-insensitive hash).

    Checkpoint/resume: the per-round edge list IS the whole state
    (each round is a pure function of the previous round's edges), so
    the shard is the (src, dst) list and the manifest carries the
    convergence signature. ``resume=True`` reloads the latest shard
    and continues the round loop from there; the result is identical
    to the uninterrupted run because the round transform is
    deterministic. The vertex set is always recomputed from the input
    ``edges`` (isolated vertices never enter the star forest)."""
    spark = edges.sparkSession
    with SuperstepLoop(
        spark, "components_two_phase", checkpoint, checkpoint_interval
    ) as loop:
        verts = (
            edges.select(F.col("src").alias("id"))
            .unionAll(edges.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        loop.n_vertices = verts.count()
        cur = (
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .localCheckpoint(eager=False)
        )
        loop.n_edges = cur.count()

        prev_sig = None
        shard = loop.resume(resume)
        if shard is not None:
            cur = shard.select("src", "dst")
            man = loop.ckpt.manifest(loop.start_iter)
            if "sig_n" in man:
                prev_sig = (man["sig_n"], man["sig_h"])
        for _ in loop.supersteps(max_iters):
            sym = cur.unionAll(
                cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            cur = _small_star(_large_star(sym)).localCheckpoint(eager=False)
            sig = _signature(cur)
            cur = loop.end(cur, sig[0], sig == prev_sig, sig_n=sig[0], sig_h=sig[1])
            prev_sig = sig

        # stable star forest: cur maps v → root; isolated vertices map to self
        comp = verts.join(
            cur.select(F.col("src").alias("id"), F.col("dst").alias("component")),
            "id",
            "left",
        ).select("id", F.coalesce("component", F.col("id")).alias("component"))
        return loop.result(comp)
