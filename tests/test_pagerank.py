"""PageRank golden fixtures (/root/reference/lib/test/test_page_rank.c)
+ networkx cross-check + checkpoint/resume kill-test. The cases run on
the local executor (the graphs are far below LOCAL_MAX_EDGES);
``test_pagerank_distributed`` reruns them on the Spark one."""

from __future__ import annotations

import numpy as np
import pytest

from aduana_spark.datagen import (
    GOLDEN_PAGERANK_D085,
    GOLDEN_PAGERANK_D05_SCORES,
    GOLDEN_SCORES,
    golden_edges,
    golden_scores,
    random_digraph,
)
from aduana_spark.graph import superstep
from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.pagerank import pagerank


def _ranks_dict(result):
    return {r["id"]: r["rank"] for r in result.ranks.collect()}


def test_pagerank_golden_d085(spark):
    """test_page_rank.c:104-140: d=0.85, precision 1e-6."""
    res = pagerank(golden_edges(spark), damping=0.85, precision=1e-6, strict=True)
    got = _ranks_dict(res)
    for i, want in GOLDEN_PAGERANK_D085.items():
        assert got[i] == pytest.approx(want, abs=1e-6), i
    assert res.converged


def test_pagerank_golden_d0_scores(spark):
    """test_page_rank.c:143-186: d=0 + content scores → PR_i = s_i/Σs."""
    res = pagerank(
        golden_edges(spark),
        damping=0.0,
        precision=1e-6,
        scores=golden_scores(spark),
        strict=True,
    )
    got = _ranks_dict(res)
    total = sum(GOLDEN_SCORES.values())
    for i, s in GOLDEN_SCORES.items():
        assert got[i] == pytest.approx(s / total, abs=1e-6), i


def test_pagerank_golden_d05_scores(spark):
    """test_page_rank.c:188-235: d=0.5 + content scores."""
    res = pagerank(
        golden_edges(spark),
        damping=0.5,
        precision=1e-6,
        scores=golden_scores(spark),
        strict=True,
    )
    got = _ranks_dict(res)
    for i, want in GOLDEN_PAGERANK_D05_SCORES.items():
        assert got[i] == pytest.approx(want, abs=1e-6), i


def test_pagerank_numpy_crosscheck(spark):
    """Independent dense-float64 oracle with the same reference
    semantics (tests/oracles.py) on a 200-node random digraph with a
    planted hub + dangling nodes."""
    from tests.oracles import pagerank_numpy

    edges, n = random_digraph(n=200, p=0.03, seed=7)
    want = pagerank_numpy(edges, n, damping=0.85, precision=1e-12)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id LONG")
    res = pagerank(df, damping=0.85, precision=1e-7, vertices=verts, max_iters=200)
    got = _ranks_dict(res)
    for i in range(n):
        assert got[i] == pytest.approx(want[i], abs=1e-6), i


def test_pagerank_personalized_numpy_crosscheck(spark):
    from tests.oracles import pagerank_numpy

    edges, n = random_digraph(n=120, p=0.03, seed=21)
    scores = {i: (i % 7) / 7.0 for i in range(n)}
    want = pagerank_numpy(edges, n, damping=0.6, scores=scores, precision=1e-10)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    sdf = spark.createDataFrame(list(scores.items()), "id LONG, score DOUBLE")
    res = pagerank(df, damping=0.6, precision=1e-7, scores=sdf, max_iters=200)
    got = _ranks_dict(res)
    for i in range(n):
        assert got[i] == pytest.approx(want[i], abs=1e-6), i


def test_pagerank_checkpoint_resume(spark, tmp_path):
    """Kill-test: run 3 supersteps, then resume from the shard and
    converge — final ranks match an uninterrupted run to 1e-9."""
    edges, n = random_digraph(n=100, p=0.04, seed=3)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    full = _ranks_dict(pagerank(df, precision=1e-10, max_iters=200))

    ck = str(tmp_path / "ck")
    partial = pagerank(
        df, precision=1e-10, max_iters=3, checkpoint=ck, checkpoint_interval=1
    )
    assert not partial.converged
    cm = CheckpointManager(ck, "pagerank")
    assert cm.latest() == 3
    m = cm.manifest(3)
    assert m["delta"] > 0 and m["edges"] == partial.n_edges

    resumed = pagerank(
        df,
        precision=1e-10,
        max_iters=200,
        checkpoint=ck,
        checkpoint_interval=5,
        resume=True,
    )
    got = _ranks_dict(resumed)
    for i in full:
        assert got[i] == pytest.approx(full[i], abs=1e-9)


@pytest.mark.parametrize(
    "case",
    [
        test_pagerank_golden_d085,
        test_pagerank_golden_d0_scores,
        test_pagerank_golden_d05_scores,
        test_pagerank_numpy_crosscheck,
        test_pagerank_personalized_numpy_crosscheck,
        test_pagerank_checkpoint_resume,
    ],
    ids=lambda case: case.__name__[len("test_pagerank_"):],
)
def test_pagerank_distributed(spark, tmp_path, monkeypatch, case):
    """The same cases on the Spark executor."""
    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", -1)
    if case is test_pagerank_checkpoint_resume:
        case(spark, tmp_path)
    else:
        case(spark)


#: LOCAL_MAX_EDGES that puts these tests' graphs on each executor
BOUNDS = {"local": superstep.LOCAL_MAX_EDGES, "spark": -1}


@pytest.mark.parametrize("first, then", [("spark", "local"), ("local", "spark")])
def test_pagerank_cross_path_resume(spark, tmp_path, monkeypatch, first, then):
    """A personalized run killed after 3 supersteps on one executor
    resumes on the other from the same shard and reaches the
    uninterrupted run's fixpoint."""
    edges, n = random_digraph(n=100, p=0.04, seed=3)
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    sdf = spark.createDataFrame(
        [(i, (i % 5) / 5.0) for i in range(n)], "id LONG, score DOUBLE"
    )
    kw = dict(damping=0.7, scores=sdf, precision=1e-10, max_iters=200)
    full = _ranks_dict(pagerank(df, **kw))

    ck = str(tmp_path / "ck")
    cm = CheckpointManager(ck, "pagerank")
    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", BOUNDS[first])
    partial = pagerank(df, **{**kw, "max_iters": 3}, checkpoint=ck, checkpoint_interval=1)
    assert not partial.converged and cm.latest() == 3
    m = cm.manifest(3)
    assert (m["edges"], m["executor"]) == (len(edges), first)

    monkeypatch.setattr(superstep, "LOCAL_MAX_EDGES", BOUNDS[then])
    resumed = pagerank(df, **kw, checkpoint=ck, resume=True)
    assert resumed.converged
    last = 3 + resumed.n_iterations
    assert cm.latest() == last
    assert (cm.manifest(last)["edges"], cm.manifest(last)["executor"]) == (len(edges), then)
    got = _ranks_dict(resumed)
    for i in full:
        assert got[i] == pytest.approx(full[i], abs=1e-9)


def test_pagerank_metrics_recorded(spark):
    res = pagerank(golden_edges(spark), precision=1e-6)
    assert len(res.metrics) == res.n_iterations
    assert all(m.edges_per_sec > 0 for m in res.metrics)
    deltas = res.deltas
    assert deltas[-1] <= 1e-6
