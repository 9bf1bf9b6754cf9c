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

converging in O(diameter) supersteps (web graphs: ~15-25). Each
superstep is one join + min-aggregate with map-side partial
aggregation; convergence is detected by counting changed labels
(a cheap aggregate over the persisted candidate DF). For graphs with
pathological diameters, the alternating large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond") converges in O(log²) rounds — min-propagation is the
reference-shaped default because crawl graphs are shallow.
"""

from __future__ import annotations

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
        sym = loop.edge_cache(symmetrize(edges), "src")
        loop.narrow()
        verts = (
            sym.select(F.col("src").alias("id"))
            .unionAll(sym.select(F.col("dst").alias("id")))
            .distinct()
        )
        prev = loop.resume(resume)
        if prev is not None:
            # vertices unseen by the shard (graph growth) start at their
            # own id — monotone labels make the merge restart-safe
            state = verts.join(prev.select("id", "component"), "id", "left").select(
                "id", F.coalesce("component", F.col("id")).alias("component")
            )
        else:
            state = verts.select("id", F.col("id").alias("component"))
        # no explicit repartition: both branches are hash-partitioned by id
        # already (distinct / equi-join output)
        state = loop.cache(state, supersteps=1)
        loop.n_vertices = state.count()

        # Delta propagation: a vertex only needs to (re)send its label after
        # the superstep in which that label changed — a label already
        # delivered to a neighbor was folded into the neighbor's (monotone,
        # non-increasing) label, so messages from unchanged vertices are
        # ≥ the receiver's current label and can never win the min. The
        # per-superstep labels (and therefore the changed-count convergence
        # test) are IDENTICAL to the broadcast-from-everyone formulation;
        # what shrinks is the E-row join output and the groupBy shuffle,
        # which decay with the frontier instead of staying O(E) for every
        # superstep. Superstep 1 sends from every vertex (initial labels
        # are unseen); after a resume the first superstep also sends from
        # everyone — monotonicity makes the extra messages harmless.
        frontier = state
        for _ in loop.supersteps(max_iters):
            # truncated; the changed count below materializes it
            cand = _candidate(sym, state, frontier).localCheckpoint(eager=False)
            frontier = cand.where(F.col("component") != F.col("old")).select(
                "id", "component"
            )
            changed = frontier.count()
            state = loop.end(cand.select("id", "component"), changed, changed == 0)
        return loop.result(state)


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
