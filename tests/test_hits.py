"""HITS golden fixture (/root/reference/lib/test/test_hits.c) +
networkx cross-check (renormalized to L1). The cases run on the local
executor; ``test_hits_distributed`` reruns them on the Spark one."""

from __future__ import annotations

import pytest

from aduana_spark.datagen import (
    GOLDEN_HITS_AUTH,
    GOLDEN_HITS_HUB,
    golden_edges,
    random_digraph,
)
from aduana_spark.graph import superstep
from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.hits import hits


def _d(result):
    return {r["id"]: (r["hub"], r["auth"]) for r in result.ranks.collect()}


def test_hits_golden(spark):
    """test_hits.c:64-103: precision 1e-8; hub [.25 .25 .25 .25 0],
    auth [.125 .125 .125 .125 .5]."""
    res = hits(golden_edges(spark), precision=1e-8, strict=True)
    got = _d(res)
    for i in range(1, 6):
        assert got[i][0] == pytest.approx(GOLDEN_HITS_HUB[i], abs=1e-6), f"hub {i}"
        assert got[i][1] == pytest.approx(GOLDEN_HITS_AUTH[i], abs=1e-6), f"auth {i}"


def test_hits_numpy_crosscheck(spark):
    """Independent dense-float64 Jacobi/L1 oracle (tests/oracles.py)."""
    from tests.oracles import hits_numpy

    edges, n = random_digraph(n=150, p=0.04, seed=5)
    want_h, want_a = hits_numpy(edges, n, precision=1e-13)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    verts = df.sparkSession.createDataFrame([(i,) for i in range(n)], "id LONG")
    got = _d(hits(df, precision=1e-8, max_iters=500, vertices=verts))
    for i in range(n):
        assert got[i][0] == pytest.approx(want_h[i], abs=1e-6), f"hub {i}"
        assert got[i][1] == pytest.approx(want_a[i], abs=1e-6), f"auth {i}"


def test_hits_content_weighted_numpy_crosscheck(spark):
    """Content-weighted hub update (hits.c:222-233)."""
    from tests.oracles import hits_numpy

    edges, n = random_digraph(n=80, p=0.06, seed=31)
    scores = {i: 0.1 + (i % 5) / 5.0 for i in range(n)}
    want_h, want_a = hits_numpy(edges, n, precision=1e-13, scores=scores)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    sdf = spark.createDataFrame(list(scores.items()), "id LONG, score DOUBLE")
    verts = df.sparkSession.createDataFrame([(i,) for i in range(n)], "id LONG")
    got = _d(hits(df, precision=1e-8, max_iters=500, scores=sdf, vertices=verts))
    for i in range(n):
        assert got[i][0] == pytest.approx(want_h[i], abs=1e-6), f"hub {i}"
        assert got[i][1] == pytest.approx(want_a[i], abs=1e-6), f"auth {i}"


def test_hits_checkpoint_resume(spark, tmp_path):
    edges, n = random_digraph(n=80, p=0.05, seed=9)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    full = _d(hits(df, precision=1e-10, max_iters=300))
    ck = str(tmp_path / "ck")
    partial = hits(df, precision=1e-10, max_iters=4, checkpoint=ck, checkpoint_interval=2)
    assert not partial.converged
    resumed = hits(df, precision=1e-10, max_iters=300, checkpoint=ck, resume=True)
    got = _d(resumed)
    for i in full:
        assert got[i][0] == pytest.approx(full[i][0], abs=1e-8)
        assert got[i][1] == pytest.approx(full[i][1], abs=1e-8)


@pytest.mark.parametrize(
    "case",
    [
        test_hits_golden,
        test_hits_numpy_crosscheck,
        test_hits_content_weighted_numpy_crosscheck,
        test_hits_checkpoint_resume,
    ],
    ids=lambda case: case.__name__[len("test_hits_"):],
)
def test_hits_distributed(spark, tmp_path, monkeypatch, case):
    """The same cases on the Spark executor."""
    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", -1)
    if case is test_hits_checkpoint_resume:
        case(spark, tmp_path)
    else:
        case(spark)


#: LOCAL_MAX_EDGES that puts these tests' graphs on each executor
BOUNDS = {"local": superstep.LOCAL_MAX_EDGES, "spark": -1}


@pytest.mark.parametrize("first, then", [("spark", "local"), ("local", "spark")])
def test_hits_cross_path_resume(spark, tmp_path, monkeypatch, first, then):
    """A run killed after 3 supersteps on one executor resumes on the
    other from the same shard and reaches the uninterrupted run's
    fixpoint."""
    edges, n = random_digraph(n=80, p=0.05, seed=9)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    full = _d(hits(df, precision=1e-10, max_iters=300))

    ck = str(tmp_path / "ck")
    cm = CheckpointManager(ck, "hits")
    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", BOUNDS[first])
    partial = hits(df, precision=1e-10, max_iters=3, checkpoint=ck, checkpoint_interval=1)
    assert not partial.converged and cm.latest() == 3
    m = cm.manifest(3)
    assert (m["edges"], m["executor"]) == (len(edges), first)

    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", BOUNDS[then])
    resumed = hits(df, precision=1e-10, max_iters=300, checkpoint=ck, resume=True)
    assert resumed.converged
    last = 3 + resumed.n_iterations
    assert cm.latest() == last
    assert (cm.manifest(last)["edges"], cm.manifest(last)["executor"]) == (len(edges), then)
    got = _d(resumed)
    for i in full:
        assert got[i][0] == pytest.approx(full[i][0], abs=1e-9)
        assert got[i][1] == pytest.approx(full[i][1], abs=1e-9)
