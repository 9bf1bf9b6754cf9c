"""Connected components / label propagation / triangles / BFS vs
networkx exact oracles (FIXTURES.md §3). The CC, label propagation and
BFS cases run on the local executor (the graphs are far below
LOCAL_MAX_EDGES); ``test_graph_loops_distributed`` reruns them on the
Spark one."""

from __future__ import annotations

import inspect
import logging
import os
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
    df = _edges_df(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    seeds = spark.createDataFrame([(0,)], "id LONG")
    got = {r["id"]: r["depth"] for r in bfs_depths(df, seeds, max_depth=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}
    got = {r["id"]: r["depth"] for r in bfs_depths(df, seeds).collect()}
    assert got == {i: i for i in range(5)}


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


@pytest.mark.parametrize(
    "case",
    [
        test_connected_components_exact,
        test_label_propagation_planted_cliques,
        test_bfs_depths_exact,
        test_bfs_max_depth,
        test_components_checkpoint_resume,
        test_labelprop_checkpoint_resume,
        test_components_delta_propagation_path_graph,
    ],
    ids=lambda case: case.__name__[len("test_"):],
)
def test_graph_loops_distributed(spark, tmp_path, monkeypatch, case):
    """The same cases on the Spark executor."""
    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", -1)
    if "tmp_path" in inspect.signature(case).parameters:
        case(spark, tmp_path)
    else:
        case(spark)


#: LOCAL_MAX_EDGES that puts these tests' graphs on each executor
BOUNDS = {"local": superstep.LOCAL_MAX_EDGES, "spark": -1}


@pytest.mark.parametrize("first, then", [("spark", "local"), ("local", "spark")])
@pytest.mark.parametrize(
    "algo, run, col",
    [
        ("components", connected_components, "component"),
        ("labelprop", label_propagation, "label"),
    ],
    ids=["components", "labelprop"],
)
def test_cross_path_resume(spark, tmp_path, monkeypatch, algo, run, col, first, then):
    """A run killed after 3 supersteps on one executor resumes on the
    other from the same shard and ends with the uninterrupted run's
    labels: CC's fixpoint, and LP's state after the same 8 supersteps."""
    edges = [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22), (30, 30)]
    df = _edges_df(spark, edges)
    full = {r["id"]: r[col] for r in run(df, max_iters=8).ranks.collect()}

    ck = str(tmp_path / "ck")
    cm = CheckpointManager(ck, algo)
    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", BOUNDS[first])
    partial = run(df, max_iters=3, checkpoint=ck, checkpoint_interval=1)
    assert not partial.converged and cm.latest() == 3
    assert cm.manifest(3)["executor"] == first

    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", BOUNDS[then])
    resumed = run(df, max_iters=5, checkpoint=ck, resume=True)
    assert cm.manifest(cm.latest())["executor"] == then
    assert {r["id"]: r[col] for r in resumed.ranks.collect()} == full


@pytest.mark.parametrize("seed, directed", [(1, False), (2, False), (3, True)])
def test_labelprop_executors_agree_per_superstep(spark, tmp_path, monkeypatch, seed, directed):
    """On sparse random graphs, where many vertices see a tie between
    their neighbours' labels, both executors take the same labels after
    every superstep (read back from each superstep's shard)."""
    edges, n = random_digraph(n=60, p=0.04, seed=seed)
    df = _edges_df(spark, edges)
    shards = {}
    for executor, bound in BOUNDS.items():
        monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", bound)
        ck = str(tmp_path / executor)
        res = label_propagation(
            df, max_iters=6, directed=directed, checkpoint=ck, checkpoint_interval=1
        )
        cm = CheckpointManager(ck, "labelprop")
        assert cm.iterations() == list(range(1, res.n_iterations + 1))
        shards[executor] = [
            sorted(cm.load_table(i).select(["id", "label"]).to_pylist(), key=str)
            for i in cm.iterations()
        ]
    assert len(shards["local"]) >= 2
    assert shards["local"] == shards["spark"]


def test_local_results_keep_spark_schema(spark):
    """Each loop's local result has the column names, types and
    nullability of its Spark result; BFS depth stays INT."""
    edges = _edges_df(spark, [(0, 1), (1, 2), (2, 0), (3, 4)])
    seeds = spark.createDataFrame([(0,)], "id LONG")
    for algo in ("pagerank", "hits", "components", "labelprop", "bfs"):
        local = LOOPS[algo](edges, seeds).schema
        assert local == LOOPS[f"{algo}_distributed"](edges, seeds).schema, algo
    assert bfs_depths(edges, seeds).schema["depth"].dataType.simpleString() == "int"


def test_graph_modules_write_no_session_conf():
    """No graph module sets session conf: the loops run at the width
    the session was built with."""
    graph = os.path.dirname(superstep.__file__)
    for name in os.listdir(graph):
        if name.endswith(".py"):
            with open(os.path.join(graph, name)) as fh:
                assert "conf.set(" not in fh.read(), name


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
    "components_distributed": _distributed(
        lambda edges, seeds: connected_components(edges).ranks
    ),
    "components_two_phase": lambda edges, seeds: connected_components_two_phase(
        edges
    ).ranks,
    "labelprop": lambda edges, seeds: label_propagation(edges).ranks,
    "labelprop_distributed": _distributed(
        lambda edges, seeds: label_propagation(edges).ranks
    ),
    "bfs": bfs_depths,
    "bfs_distributed": _distributed(bfs_depths),
}


@pytest.mark.parametrize("algo", list(LOOPS))
def test_loop_leaves_session_as_found(spark, monkeypatch, algo):
    """A loop that raises mid-way or returns normally leaves the
    caller's session as it found it: the same conf, the shuffle width
    included, and no DataFrame it cached still cached."""
    edges = _edges_df(spark, [(i, i + 1) for i in range(9)] + [(9, 0), (3, 7)])
    seeds = spark.createDataFrame([(0,)], "id LONG")
    conf = spark.conf.getAll
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
    assert spark.conf.getAll == conf
    assert cache.isEmpty()

    monkeypatch.undo()
    assert LOOPS[algo](edges, seeds).count() > 0
    assert spark.conf.getAll == conf
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
    superstep, in every loop that has both."""
    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", BOUNDS[executor])
    edges = _edges_df(spark, [(i, i + 1) for i in range(4)] + [(4, 0)])
    seeds = spark.createDataFrame([(0,)], "id LONG")
    ck = dict(checkpoint=str(tmp_path), checkpoint_interval=1)
    runs = {
        "pagerank": lambda: pagerank(edges, **ck).n_iterations,
        "components": lambda: connected_components(edges, **ck).n_iterations,
        "labelprop": lambda: label_propagation(edges, **ck).n_iterations,
        # depths 1-4, then a superstep that reaches nothing new
        "bfs": lambda: bfs_depths(edges, seeds).count(),
    }
    for algo, run in runs.items():
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="aduana_spark.graph"):
            n = run()
        records = [r for r in caplog.records if r.name == "aduana_spark.graph"]
        assert [(r.algo, r.executor, r.iteration) for r in records] == [
            (algo, executor, i) for i in range(1, n + 1)
        ]
        assert all(f"executor={executor}" in r.getMessage() for r in records)
        if algo != "bfs":
            ckpt = CheckpointManager(str(tmp_path), algo)
            assert ckpt.manifest(ckpt.latest())["executor"] == executor
