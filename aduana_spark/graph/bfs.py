"""BFS depth / provenance propagation.

The reference records ``depth`` and ``linked_from`` on the first
crawl path that reaches a page (page_db.c:196-237, 864-868, 921-931) —
an approximation of shortest-path depth validated in its Python tests
against ``networkx.single_source_shortest_path_length``
(/root/reference/test/test_crawl.py:82-88). Here we compute the exact
shortest-path depth from a seed set by iterative min-depth message
passing (the same superstep skeleton as connected components):

    depth'[v] = min(depth[v], min_{(u,v)} depth[u] + 1)

Frontier-only optimization: only vertices whose depth changed last
superstep emit messages, so each superstep joins the (shrinking)
frontier against the edge table instead of the full vertex state.
Up to ``LOCAL_MAX_EDGES`` edges (``graph.superstep``) the frontier is a
mask over the edge arrays on the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.superstep import SuperstepLoop, dense_index


def bfs_depths(
    edges: DataFrame, seeds: DataFrame, max_depth: int | None = None
) -> DataFrame:
    """Shortest-path depth from ``seeds`` (DataFrame with column
    ``id``). Returns (id, depth) for reachable vertices only. Each
    superstep's delta is the number of vertices it reached."""
    with SuperstepLoop(edges.sparkSession, "bfs") as loop:
        e, cols = loop.fetch_local(edges, vertices=seeds)
        if cols is not None:
            # depth -1: not reached yet
            src, dst, seed_ids = cols[0], cols[1], cols[4]
            universe = np.concatenate([src, dst, seed_ids])
            ids, s, d, _ = loop.local_graph(src, dst, universe)
            depth = np.full(len(ids), -1, dtype=np.int32)
            depth[dense_index(ids, seed_ids)[0]] = 0
            frontier = depth == 0
            for it in loop.supersteps(max_depth):
                reached = np.zeros(len(ids), dtype=bool)
                reached[d[frontier[s]]] = True
                frontier = reached & (depth < 0)
                depth[frontier] = it
                loop.end(None, frontier.sum(), not frontier.any())
            found = depth >= 0
            ranks = {"id": ids[found], "depth": depth[found]}
            return loop.local_result(ranks, not_null=("depth",)).ranks
        e = loop.edge_cache(e, "src")
        state = loop.cache(seeds.select("id", F.lit(0).alias("depth")), supersteps=1)
        frontier = state
        for depth in loop.supersteps(max_depth):
            reached = (
                e.join(frontier.select(F.col("id").alias("src")), "src")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            frontier = (
                reached.join(state.select("id"), "id", "left_anti")
                .select("id", F.lit(depth).alias("depth"))
                .localCheckpoint()  # materialize + truncate lineage
            )
            n_new = frontier.count()
            if n_new:
                state = state.unionAll(frontier).localCheckpoint()
            loop.end(state, n_new, n_new == 0)
        return state
