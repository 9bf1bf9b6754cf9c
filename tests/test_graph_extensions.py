"""Connected components / label propagation / triangles / BFS vs
networkx exact oracles (FIXTURES.md §3)."""

from __future__ import annotations

import logging
from unittest import mock

import pytest

from aduana_spark.datagen import random_digraph
from aduana_spark.graph import superstep
from aduana_spark.graph.bfs import bfs_depths
from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.components import (
    connected_components,
    connected_components_two_phase,
)
from aduana_spark.graph.hits import hits
from aduana_spark.graph.labelprop import label_propagation
from aduana_spark.graph.pagerank import pagerank
from aduana_spark.graph.superstep import SuperstepLoop
from aduana_spark.graph.triangles import triangle_count, triangle_list

nx = pytest.importorskip("networkx")


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src LONG, dst LONG")


def test_connected_components_exact(spark):
    edges, n = random_digraph(n=200, p=0.005, seed=13)
    g = nx.DiGraph(edges)
    comps = {}
    for comp in nx.weakly_connected_components(g):
        label = min(comp)
        for v in comp:
            comps[v] = label
    res = connected_components(_edges_df(spark, edges))
    got = {r["id"]: r["component"] for r in res.ranks.collect()}
    assert got == comps
    assert res.converged


def test_triangle_count_exact(spark):
    edges, n = random_digraph(n=120, p=0.06, seed=17)
    g = nx.Graph()
    g.add_edges_from(edges)
    g.remove_edges_from(nx.selfloop_edges(g))
    want = nx.triangles(g)
    total = sum(want.values()) // 3

    df = _edges_df(spark, edges)
    assert triangle_count(df).first()["n_triangles"] == total
    got = {r["id"]: r["n_triangles"] for r in triangle_count(df, per_vertex=True).collect()}
    for v, c in want.items():
        assert got.get(v, 0) == c, v


def test_triangle_degree_orientation_agrees(spark):
    edges, n = random_digraph(n=100, p=0.08, seed=19)
    df = _edges_df(spark, edges)
    a = {tuple(sorted((r["a"], r["b"], r["c"]))) for r in triangle_list(df).collect()}
    b = {
        tuple(sorted((r["a"], r["b"], r["c"])))
        for r in triangle_list(df, orient_by_degree=True).collect()
    }
    assert a == b and len(a) > 0


def test_label_propagation_planted_cliques(spark):
    # two 10-cliques joined by nothing → each converges to one label
    edges = []
    for base in (0, 100):
        for i in range(10):
            for j in range(i + 1, 10):
                edges.append((base + i, base + j))
    res = label_propagation(_edges_df(spark, edges), max_iters=10)
    got = {r["id"]: r["label"] for r in res.ranks.collect()}
    labels_a = {got[i] for i in range(10)}
    labels_b = {got[100 + i] for i in range(10)}
    assert len(labels_a) == 1 and len(labels_b) == 1
    assert labels_a != labels_b


def test_bfs_depths_exact(spark):
    edges, n = random_digraph(n=150, p=0.02, seed=23)
    g = nx.DiGraph(edges)
    g.add_nodes_from(range(n))
    want = nx.single_source_shortest_path_length(g, 0)
    seeds = spark.createDataFrame([(0,)], "id LONG")
    got = {r["id"]: r["depth"] for r in bfs_depths(_edges_df(spark, edges), seeds).collect()}
    assert got == dict(want)


def test_bfs_max_depth(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    seeds = spark.createDataFrame([(0,)], "id LONG")
    got = {
        r["id"]: r["depth"]
        for r in bfs_depths(_edges_df(spark, edges), seeds, max_depth=2).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2}


def test_two_phase_cc_matches_minprop_and_nx(spark):
    """large-star/small-star converges in O(log) rounds on a long path
    where min-propagation needs O(n) supersteps."""
    # 150-node path + a clique + isolated self-loop vertex
    edges = [(i, i + 1) for i in range(150)]
    edges += [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(300, 300)]
    g = nx.Graph()
    g.add_edges_from(edges)
    want = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            want[v] = m

    df = _edges_df(spark, edges)
    res = connected_components_two_phase(df)
    got = {r["id"]: r["component"] for r in res.ranks.collect()}
    assert got == want
    assert res.converged
    assert res.n_iterations <= 12  # O(log n), not O(n)


def test_two_phase_cc_random_graph(spark):
    edges, n = random_digraph(n=200, p=0.005, seed=13)
    g = nx.DiGraph(edges)
    want = {}
    for comp in nx.weakly_connected_components(g):
        m = min(comp)
        for v in comp:
            want[v] = m
    res = connected_components_two_phase(_edges_df(spark, edges))
    got = {r["id"]: r["component"] for r in res.ranks.collect()}
    assert got == want


def test_components_checkpoint_resume(spark, tmp_path):
    """North-rule mid-iteration resume for connected components: kill
    after 3 supersteps, resume from the shard, converge to the exact
    labels — and in fewer supersteps than a cold run (monotone labels
    make the warm start strictly ahead). A run that stops unconverged
    at max_iters checkpoints its last superstep even off the interval."""
    from aduana_spark.graph.checkpoint import CheckpointManager
    from aduana_spark.graph.components import connected_components

    n = 16  # path graph: diameter n-1 forces many supersteps
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    cold = connected_components(df, max_iters=50)
    for interval in (1, 5):
        ck = str(tmp_path / f"ck{interval}")
        partial = connected_components(
            df, max_iters=3, checkpoint=ck, checkpoint_interval=interval
        )
        assert not partial.converged
        assert CheckpointManager(ck, "components").latest() == 3
        resumed = connected_components(df, max_iters=50, checkpoint=ck, resume=True)
        assert resumed.converged
        got = {r["id"]: r["component"] for r in resumed.ranks.collect()}
        assert got == {i: 0 for i in range(n)}
        assert resumed.n_iterations < cold.n_iterations


def test_labelprop_checkpoint_resume(spark, tmp_path):
    """Synchronous LP resumed from shard K reproduces the
    uninterrupted trajectory exactly (here on an oscillating star, the
    sharpest check: any off-by-one superstep flips the labels)."""
    from aduana_spark.graph.labelprop import label_propagation

    df = spark.createDataFrame(
        [(i, 100) for i in range(6)], "src LONG, dst LONG"
    )
    full = {
        r["id"]: r["label"]
        for r in label_propagation(df, max_iters=5).ranks.collect()
    }
    ck = str(tmp_path / "ck")
    partial = label_propagation(df, max_iters=2, checkpoint=ck, checkpoint_interval=1)
    assert not partial.converged
    resumed = label_propagation(df, max_iters=3, checkpoint=ck, resume=True)
    got = {r["id"]: r["label"] for r in resumed.ranks.collect()}
    assert got == full


def test_two_phase_cc_checkpoint_resume(spark, tmp_path):
    """Kill/resume on the O(log²) scale path: the per-round edge list
    is the whole state, so resuming from the latest shard reproduces
    the uninterrupted run's exact labels (the round transform is
    deterministic) in fewer rounds than a cold start."""
    edges = [(i, i + 1) for i in range(64)]  # path: several rounds
    edges += [(200 + i, 201 + i) for i in range(20)]
    df = _edges_df(spark, edges)
    ck = str(tmp_path / "ck2p")
    partial = connected_components_two_phase(
        df, max_iters=2, checkpoint=ck, checkpoint_interval=1
    )
    assert not partial.converged
    resumed = connected_components_two_phase(
        df, max_iters=40, checkpoint=ck, resume=True
    )
    assert resumed.converged
    g = nx.Graph()
    g.add_edges_from(edges)
    want = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            want[v] = m
    got = {r["id"]: r["component"] for r in resumed.ranks.collect()}
    assert got == want
    cold = connected_components_two_phase(df, max_iters=40)
    assert resumed.n_iterations < cold.n_iterations


def test_components_delta_propagation_path_graph(spark):
    """Delta propagation (r6: only vertices whose label changed last
    superstep re-send) must keep per-superstep semantics identical to
    the broadcast-from-everyone formulation. On the directed path
    0->1->...->9 the min label walks exactly one hop per superstep, so
    the changed-count sequence and the superstep count are fully
    determined: 9,8,...,1 then the zero-change detection superstep."""
    from aduana_spark.graph.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src LONG, dst LONG"
    )
    res = connected_components(edges, max_iters=20)
    assert res.converged
    assert {r["component"] for r in res.ranks.collect()} == {0}
    assert [int(m.delta) for m in res.metrics] == [9, 8, 7, 6, 5, 4, 3, 2, 1, 0]
    assert res.n_iterations == 10


def test_bfs_and_labelprop_restore_session_shuffle_partitions(spark):
    """r6: bfs/labelprop take the scale-adaptive loop width (tiny
    graphs derive a narrow per-superstep shuffle width); the session
    conf is scoped state and must be restored on exit, and results
    must be identical to the session-width formulation."""
    before = spark.conf.get("spark.sql.shuffle.partitions")

    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    seeds = spark.createDataFrame([(0,)], "id LONG")
    got = {
        r["id"]: r["depth"]
        for r in bfs_depths(_edges_df(spark, edges), seeds).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    cl = []
    for base in (0, 100):
        for i in range(5):
            for j in range(i + 1, 5):
                cl.append((base + i, base + j))
    res = label_propagation(_edges_df(spark, cl), max_iters=10)
    got = {r["id"]: r["label"] for r in res.ranks.collect()}
    assert len({got[i] for i in range(5)}) == 1
    assert len({got[100 + i] for i in range(5)}) == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _distributed(loop):
    """``loop`` on the Spark executor whatever the graph's size."""

    def run(edges, seeds):
        with mock.patch.object(superstep, "LOCAL_MAX_EDGES", -1):
            return loop(edges, seeds)

    return run


#: every iterative loop, as a call returning the DataFrame it computes
LOOPS = {
    "pagerank": lambda edges, seeds: pagerank(edges).ranks,
    "hits": lambda edges, seeds: hits(edges).ranks,
    "pagerank_distributed": _distributed(lambda edges, seeds: pagerank(edges).ranks),
    "hits_distributed": _distributed(lambda edges, seeds: hits(edges).ranks),
    "components": lambda edges, seeds: connected_components(edges).ranks,
    "components_two_phase": lambda edges, seeds: connected_components_two_phase(
        edges
    ).ranks,
    "labelprop": lambda edges, seeds: label_propagation(edges).ranks,
    "bfs": bfs_depths,
}


@pytest.mark.parametrize("algo", list(LOOPS))
def test_loop_leaves_session_as_found(spark, monkeypatch, algo):
    """A loop that raises mid-way or returns normally leaves the
    caller's session as it found it: the shuffle width it narrowed is
    restored and no DataFrame it cached stays cached."""
    edges = _edges_df(spark, [(i, i + 1) for i in range(9)] + [(9, 0), (3, 7)])
    seeds = spark.createDataFrame([(0,)], "id LONG")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    cache = spark._jsparkSession.sharedState().cacheManager()
    emit = SuperstepLoop.emit

    def emit_or_raise(self, m):
        if m.iteration == 2:
            raise RuntimeError("superstep 2")
        emit(self, m)

    spark.catalog.clearCache()
    monkeypatch.setattr(SuperstepLoop, "emit", emit_or_raise)
    with pytest.raises(RuntimeError, match="superstep 2"):
        LOOPS[algo](edges, seeds)
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    assert cache.isEmpty()

    monkeypatch.undo()
    assert LOOPS[algo](edges, seeds).count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    assert cache.isEmpty()


def test_supersteps_logged_in_order(spark, caplog):
    """Each superstep reports one INFO line on aduana_spark.graph."""
    edges = _edges_df(spark, [(i, i + 1) for i in range(4)])
    with caplog.at_level(logging.INFO, logger="aduana_spark.graph"):
        res = connected_components(edges)
    logged = [
        (r.algo, r.iteration, r.delta, r.edges)
        for r in caplog.records
        if r.name == "aduana_spark.graph"
    ]
    # the min label walks one hop per superstep: changed counts 4..1, 0
    assert logged == [
        ("components", i, float(changed), res.n_edges)
        for i, changed in enumerate([4, 3, 2, 1, 0], start=1)
    ]


@pytest.mark.parametrize("executor", ["local", "spark"])
def test_superstep_log_names_executor(spark, caplog, monkeypatch, tmp_path, executor):
    """The INFO line and the manifest name the executor that ran the
    superstep."""
    if executor == "spark":
        monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", -1)
    edges = _edges_df(spark, [(i, i + 1) for i in range(4)] + [(4, 0)])
    with caplog.at_level(logging.INFO, logger="aduana_spark.graph"):
        res = pagerank(edges, checkpoint=str(tmp_path), checkpoint_interval=1)
    records = [r for r in caplog.records if r.name == "aduana_spark.graph"]
    assert [(r.algo, r.executor, r.iteration) for r in records] == [
        ("pagerank", executor, i) for i in range(1, res.n_iterations + 1)
    ]
    assert all(f"executor={executor}" in r.getMessage() for r in records)
    ckpt = CheckpointManager(str(tmp_path), "pagerank")
    assert ckpt.manifest(ckpt.latest())["executor"] == executor
