"""End-to-end crawl simulation (reference test/test_crawl.py:59-100):
seed → request/crawl loop over a synthetic web graph → every crawled
page must lie within MAX_CRAWL_DEPTH-1 of the seed (networkx
shortest-path oracle; the -1 offset is the seed-sentinel hop, exactly
like the reference's Frontera backend)."""

from __future__ import annotations

import random

import networkx as nx

from aduana_spark.api import Backend


def _url(i: int) -> str:
    return f"https://site{i}.org/"


def test_depth_crawl_simulation(spark):
    g = nx.gnp_random_graph(24, 0.25, seed=7, directed=True)
    web = {_url(i): [_url(j) for j in g.successors(i)] for i in g.nodes}
    rng = random.Random(42)

    backend = Backend(spark, max_depth=2)
    backend.add_seeds([_url(0)])
    crawled: list[str] = []
    while True:
        reqs = backend.get_next_requests(10)
        if not reqs:
            break
        for u in reqs:
            crawled.append(u)
            backend.page_crawled(u, [(v, rng.random()) for v in web[u]])

    dist = {
        _url(k): v
        for k, v in nx.single_source_shortest_path_length(g, 0, cutoff=2).items()
    }
    assert crawled, "nothing crawled"
    # reference assertion: crawled ⊆ within depth-1 of the seed
    assert all(dist.get(u, 99) <= 1 for u in crawled), sorted(crawled)
    # stronger at depth 2: every direct successor of the seed is
    # discovered from the seed itself (first-touch depth 2 ≤ gate),
    # so the crawl is also complete
    want = {u for u, d in dist.items() if d <= 1}
    assert set(crawled) == want
    # nothing is served twice (pop semantics)
    assert len(crawled) == len(set(crawled))


def test_polite_crawl_through_backend(spark):
    """Politeness through the full Backend path: after two rapid
    crawls of hot.org, its remaining page is deferred behind the
    cold domain at the soft limit and admitted by escalation —
    bf_scheduler.c:679-819 behavior driven end-to-end (crawl events
    share one timestamp, so both hot crawls sit fully inside the
    decay window)."""
    backend = Backend(spark)
    backend.scheduler.set_crawl_rate(1.0, 4.0)
    backend.add_seeds(["https://hub.org/"])
    assert backend.get_next_requests(1) == ["https://hub.org/"]
    backend.page_crawled(
        "https://hub.org/",
        [
            ("https://hot.org/p0", 0.90),
            ("https://hot.org/p1", 0.89),
            ("https://hot.org/p2", 0.88),
            ("https://cold.org/x", 0.10),
        ],
    )
    # hot.org cold so far → its two best pages pop first
    assert backend.get_next_requests(2) == ["https://hot.org/p0", "https://hot.org/p1"]
    backend.page_crawled("https://hot.org/p0", [])
    backend.page_crawled("https://hot.org/p1", [])
    # hot.org temp = 2 > soft 1.0 → p2 deferred; cold.org admitted at
    # the soft limit, p2 re-admitted on the escalation ladder (step 2)
    assert backend.get_next_requests(2) == ["https://cold.org/x", "https://hot.org/p2"]


def test_polite_crawl_distributed(spark, monkeypatch):
    """test_polite_crawl_through_backend with every commit on Spark."""
    from aduana_spark.frontier import page_info

    monkeypatch.setattr(page_info, "LOCAL_MAX_ROWS", -1)
    test_polite_crawl_through_backend(spark)
