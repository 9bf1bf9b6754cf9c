"""The superstep loop shared by the iterative graph algorithms.

PageRank, HITS, connected components, label propagation and BFS depth
are the same loop: join the vertex state against one cached edge
relation, group-aggregate the messages (sum, min, mode) and update the
state (LMFAO, *A Layered Aggregate Engine for Analytics Workloads*,
SIGMOD 2019). :class:`SuperstepLoop` owns everything they share:

- the edge-cache layout (:meth:`SuperstepLoop.edge_cache`);
- the executor choice (:meth:`SuperstepLoop.fetch_local`), and the
  local loops' vertex index and result DataFrame;
- resume from the latest checkpoint shard;
- the checkpoint cadence and its manifest;
- the per-superstep report (:meth:`SuperstepLoop.emit`): the
  :class:`SuperstepMetrics` list, the ``on_superstep`` hook and one
  INFO line on the ``aduana_spark.graph`` logger;
- cache lifetimes, including the deferred unpersist of a cache that
  backs a still-lazy state.

Used as a context manager, it unpersists every cache it owns on every
exit, raised or returned. No loop writes session conf, so a loop
leaves the caller's session as it found it. Each algorithm keeps only
its state setup, its message/aggregate/update expressions and its
convergence test.

Crawl-sized graphs skip Spark's per-job cost altogether. A superstep
is an aggregate over a sparse join (*Aggregate Queries on Sparse
Databases*, PODS 2020), and on a few thousand edges its ~1 s is job
and stage overhead, not data (SparkTune, EDBT 2019). So when every
input has at most :data:`LOCAL_MAX_EDGES` rows,
:meth:`SuperstepLoop.fetch_local` counts it on the executors and
brings it to the driver in one Arrow fetch, and every superstep runs
in numpy over dense vertex indices (executor ``local``). Larger inputs
run the distributed loop (executor ``spark``) at the session's shuffle
width. Both executors share the bookkeeping above, the checkpoint
shard format included, so a run checkpointed on one resumes on the
other.
"""

from __future__ import annotations

import itertools
import logging
import time
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from aduana_spark.graph.checkpoint import CheckpointManager

if TYPE_CHECKING:
    import pyarrow as pa

log = logging.getLogger("aduana_spark.graph")

#: inputs of at most this many rows converge on the driver. It bounds
#: the driver fetch at about 16 MB of (src, dst) edges, and it sits below
#: the 1.34M-edge sf0.1 bench graph, whose rows time the distributed loop
LOCAL_MAX_EDGES = 1_000_000


class ConvergenceError(RuntimeError):
    """Raised in strict mode when max_iters is hit without convergence
    (mirrors page_rank_error_precision, page_rank.c:431-436)."""


@dataclass
class SuperstepMetrics:
    iteration: int
    delta: float
    wall_sec: float
    edges: int
    edges_per_sec: float


@dataclass
class IterativeResult:
    ranks: DataFrame
    converged: bool
    n_iterations: int
    n_vertices: int
    n_edges: int
    metrics: list[SuperstepMetrics] = field(default_factory=list)
    #: "local" or "spark": where the supersteps ran
    executor: str = "spark"

    @property
    def deltas(self) -> list[float]:
        return [m.delta for m in self.metrics]


def row_count(df: DataFrame) -> int:
    """Exact row count of ``df`` in one job with no shuffle (count()
    adds an aggregation exchange, a second job under AQE). No row
    leaves the executors, and a persisted ``df`` is filled by it."""
    return df._jdf.queryExecution().toRdd().count()


def dense_index(ids: np.ndarray, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``x`` in the sorted unique ``ids``, and the mask of
    the ``x`` found there."""
    pos = np.searchsorted(ids, x).clip(max=max(len(ids) - 1, 0))
    return pos, ids[pos] == x


def scatter(
    ids: np.ndarray, keys: np.ndarray, values: np.ndarray, fill=0.0
) -> np.ndarray:
    """``values`` placed at their ``keys``' positions in the sorted
    unique ``ids``: a left join of the vertices onto (key, value) rows,
    ``fill`` (a scalar, or an array over ``ids``) where a vertex has
    none."""
    out = np.array(np.broadcast_to(fill, ids.shape))
    pos, found = dense_index(ids, keys)
    out[pos[found]] = values[found]
    return out


class SuperstepLoop:
    """The shared bookkeeping of one iterative loop; use as a context
    manager around the whole algorithm.

    ``algo`` names the loop in the metrics log, the checkpoint
    directory and the manifest. ``checkpoint`` (a CheckpointManager or
    a base dir) enables shard writes every ``checkpoint_interval``
    supersteps, at convergence and at the last superstep, and
    :meth:`resume`. ``on_superstep`` is called with each superstep's
    :class:`SuperstepMetrics` as it completes.
    """

    def __init__(
        self,
        spark: SparkSession,
        algo: str,
        checkpoint: CheckpointManager | str | None = None,
        checkpoint_interval: int = 5,
        on_superstep: Callable[[SuperstepMetrics], None] | None = None,
    ):
        self.spark = spark
        self.algo = algo
        self.ckpt = (
            CheckpointManager(checkpoint, algo)
            if isinstance(checkpoint, str)
            else checkpoint
        )
        self.checkpoint_interval = checkpoint_interval
        self.on_superstep = on_superstep
        self.metrics: list[SuperstepMetrics] = []
        self.n_edges = 0
        self.n_vertices = 0
        self.start_iter = 0
        #: current superstep; start_iter during setup
        self.it = 0
        self.converged = False
        #: "local" once :meth:`fetch_local` took the inputs to the driver
        self.executor = "spark"
        #: the last superstep's state was reloaded from its checkpoint
        #: shard, so no cache backs it
        self._saved = False
        self._last = 0
        self._t0 = 0.0
        #: (cache, superstep at whose end it is dropped; None = at exit)
        self._caches: list[tuple[DataFrame, int | None]] = []

    def __enter__(self) -> SuperstepLoop:
        return self

    def __exit__(self, *exc) -> None:
        for df, _ in self._caches:
            df.unpersist()
        self._caches = []

    # ------------------------------------------------------------ setup

    def cache(self, df: DataFrame, supersteps: int | None = None) -> DataFrame:
        """Persist ``df`` for this loop. It is unpersisted at the end of
        the superstep ``supersteps`` after the current one (0: this one;
        1: once the next superstep has materialized whatever it backs),
        or at exit when ``supersteps`` is None."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._caches.append((df, None if supersteps is None else self.it + supersteps))
        return df

    def edge_cache(self, edges: DataFrame, key: str) -> DataFrame:
        """The E-row edge relation, hash-partitioned AND sorted by the
        join ``key`` once, cached and counted into ``n_edges``. The
        cached scan advertises its ordering, so the per-superstep
        SortMergeJoin sorts only the V-row state side and never
        re-shuffles or re-sorts the edges."""
        cached = self.cache(
            edges.select("src", "dst")
            .repartition(F.col(key))
            .sortWithinPartitions(key)
        )
        self.n_edges = row_count(cached)
        return cached

    def fetch_local(
        self,
        edges: DataFrame,
        scores: DataFrame | None = None,
        vertices: DataFrame | None = None,
    ) -> tuple[DataFrame, list[np.ndarray | None] | None]:
        """Pick the executor. ``edges`` (src, dst) and, when given,
        ``scores`` (id, score) and ``vertices`` (id) are each cached for
        the loop's setup and counted with :func:`row_count`, the edges
        into ``n_edges``. When every input has at most
        ``LOCAL_MAX_EDGES`` rows the loop turns ``local`` and this
        fetches each from its cache with one Arrow collect. Returns the
        cached edges, which the Spark loop lays out with
        :meth:`edge_cache`, and the columns as numpy arrays: src, dst,
        score ids, score values (nulls as 0.0), vertex ids, None for an
        absent input. On Spark the columns are None: no row has left
        the executors."""
        edges = self.cache(edges.select("src", "dst"), supersteps=0)
        self.n_edges = row_count(edges)
        if self.n_edges > LOCAL_MAX_EDGES:
            return edges, None
        inputs = [(edges, ("src", "dst"))]
        for df, names in ((scores, ("id", "score")), (vertices, ("id",))):
            if df is not None:
                df = self.cache(df.select(*names), supersteps=0)
                if row_count(df) > LOCAL_MAX_EDGES:
                    return edges, None
            inputs.append((df, names))
        cols: list[np.ndarray | None] = []
        for df, names in inputs:
            if df is None:
                cols += [None] * len(names)
                continue
            table = df.select(*names).toArrow()
            cols += [
                table[c].cast("double").fill_null(0.0).to_numpy()
                if c == "score"
                else table[c].to_numpy()
                for c in names
            ]
        self.executor = "local"
        return edges, cols

    def resume(
        self, resume: bool, ids: np.ndarray | None = None, fill=0.0
    ) -> DataFrame | dict[str, np.ndarray] | None:
        """The latest checkpoint shard when ``resume`` is set and one
        exists (supersteps then continue after it), else None. The
        local executor gets its columns as arrays over ``ids``, placed
        by :func:`scatter` with ``fill``."""
        latest = self.ckpt.latest() if resume and self.ckpt is not None else None
        if latest is None:
            return None
        self.start_iter = self.it = latest
        if self.executor == "spark":
            return self.ckpt.load(self.spark, latest)
        prev = self.ckpt.load_table(latest)
        keys = prev["id"].to_numpy()
        return {c: scatter(ids, keys, prev[c].to_numpy(), fill) for c in prev.column_names}

    # ------------------------------------------------ the local executor

    def local_graph(
        self, src: np.ndarray, dst: np.ndarray, vertex_ids: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """The local loop's vertices ``ids``, the sorted unique
        ``vertex_ids`` (by default every endpoint) counted into
        ``n_vertices``; the edges between two of them as dense (src,
        dst) indices; and each vertex's out-degree."""
        if vertex_ids is None:
            vertex_ids = np.concatenate([src, dst])
        ids = np.unique(vertex_ids)
        self.n_vertices = len(ids)
        s, s_in = dense_index(ids, src)
        d, d_in = dense_index(ids, dst)
        deg = np.bincount(s[s_in], minlength=len(ids))
        return ids, s[s_in & d_in], d[s_in & d_in], deg

    def local_result(
        self,
        columns: dict[str, np.ndarray],
        not_null: tuple[str, ...] = (),
        strict: bool = False,
        precision: float | None = None,
    ) -> IterativeResult:
        """:meth:`result` over a DataFrame of ``columns``, nullable but
        for ``not_null``, as the Spark loop's result is."""
        import pyarrow as pa

        table = pa.table(columns)
        schema = pa.schema([f.with_nullable(f.name not in not_null) for f in table.schema])
        return self.result(self.spark.createDataFrame(table.cast(schema)), strict, precision)

    # ------------------------------------------------------------- loop

    def supersteps(self, max_iters: int | None) -> Iterator[int]:
        """Superstep numbers after ``start_iter``, at most ``max_iters``
        of them (unbounded for None); stops after the superstep whose
        :meth:`end` reported convergence."""
        if max_iters is None:
            its = itertools.count(self.start_iter + 1)
        else:
            self._last = self.start_iter + max_iters
            its = range(self.start_iter + 1, self._last + 1)
        for it in its:
            self.it = it
            self._t0 = time.time()
            yield it
            if self.converged:
                return

    def end(
        self, state: DataFrame | pa.Table, delta: float, converged: bool, **extra
    ) -> DataFrame | pa.Table:
        """Close the current superstep: emit its metrics, write the
        checkpoint shard when due (``extra`` joins the manifest) and
        drop the caches due now. Returns the state to carry on with —
        the reloaded shard when one was written."""
        wall = time.time() - self._t0
        self.emit(
            SuperstepMetrics(
                self.it,
                float(delta),
                wall,
                self.n_edges,
                self.n_edges / max(wall, 1e-9),
            )
        )
        self.converged = converged
        self._saved = self.ckpt is not None and (
            self.it % self.checkpoint_interval == 0
            or converged
            or self.it == self._last
        )
        if self._saved:
            state = self.ckpt.save(
                self.it,
                state,
                {
                    "algo": self.algo,
                    "executor": self.executor,
                    "delta": float(delta),
                    "wall_sec": wall,
                    "edges": self.n_edges,
                    "vertices": self.n_vertices,
                    "converged": converged,
                    **extra,
                },
            )
        due = [c for c in self._caches if c[1] is not None and c[1] <= self.it]
        for c in due:
            c[0].unpersist()
            self._caches.remove(c)
        return state

    def emit(self, m: SuperstepMetrics) -> None:
        """The one per-superstep report point of every loop."""
        self.metrics.append(m)
        if self.on_superstep is not None:
            self.on_superstep(m)
        fields = {
            "algo": self.algo,
            "executor": self.executor,
            "iteration": m.iteration,
            "delta": m.delta,
            "wall_sec": round(m.wall_sec, 6),
            "edges": m.edges,
        }
        log.info(
            "superstep %s", " ".join(f"{k}={v}" for k, v in fields.items()), extra=fields
        )

    def result(
        self, ranks: DataFrame, strict: bool = False, precision: float | None = None
    ) -> IterativeResult:
        """The loop's :class:`IterativeResult`; raises
        :class:`ConvergenceError` under ``strict`` when it did not
        converge. A deferred cache still backing the final state is
        released at exit, so that state is materialized first."""
        if strict and not self.converged:
            raise ConvergenceError(
                f"{self.algo} did not reach {precision} in "
                f"{self._last - self.start_iter} iterations"
            )
        if not self._saved and any(k is not None for _, k in self._caches):
            ranks.count()
        return IterativeResult(
            ranks=ranks,
            converged=self.converged,
            n_iterations=self.it - self.start_iter,
            n_vertices=self.n_vertices,
            n_edges=self.n_edges,
            metrics=self.metrics,
            executor=self.executor,
        )
