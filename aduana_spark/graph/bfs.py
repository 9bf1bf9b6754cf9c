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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.superstep import SuperstepLoop


def bfs_depths(
    edges: DataFrame, seeds: DataFrame, max_depth: int | None = None
) -> DataFrame:
    """Shortest-path depth from ``seeds`` (DataFrame with column
    ``id``). Returns (id, depth) for reachable vertices only. Each
    superstep's delta is the number of vertices it reached."""
    with SuperstepLoop(edges.sparkSession, "bfs") as loop:
        e = loop.edge_cache(edges, "src")
        loop.narrow()
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
