"""The superstep loop shared by the iterative graph algorithms.

PageRank, HITS, connected components, label propagation and BFS depth
are the same loop: join the vertex state against one cached edge
relation, group-aggregate the messages (sum, min, mode) and update the
state (LMFAO, *A Layered Aggregate Engine for Analytics Workloads*,
SIGMOD 2019). :class:`SuperstepLoop` owns everything they share:

- the edge-cache layout (:meth:`SuperstepLoop.edge_cache`);
- the scale-adaptive loop width (:meth:`SuperstepLoop.narrow`);
- resume from the latest checkpoint shard;
- the checkpoint cadence and its manifest;
- the per-superstep report (:meth:`SuperstepLoop.emit`): the
  :class:`SuperstepMetrics` list, the ``on_superstep`` hook and one
  INFO line on the ``aduana_spark.graph`` logger;
- cache lifetimes, including the deferred unpersist of a cache that
  backs a still-lazy state.

Used as a context manager, it restores the session's shuffle width and
unpersists every cache it owns on every exit, raised or returned, so a
loop leaves the caller's session as it found it. Each algorithm keeps
only its state setup, its message/aggregate/update expressions and its
convergence test.
"""

from __future__ import annotations

import itertools
import logging
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from aduana_spark.graph.checkpoint import CheckpointManager

log = logging.getLogger("aduana_spark.graph")

_WIDTH = "spark.sql.shuffle.partitions"

#: target E-rows per superstep task. (src,dst,msg) rows are ~16-24 B, so
#: 100k rows ≈ 2 MB — enough real work to amortize the per-task overhead
#: (~5-10 ms scheduling + serialization) while keeping tasks small enough
#: for straggler insurance.
SUPERSTEP_ROWS_PER_TASK = 100_000


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

    @property
    def deltas(self) -> list[float]:
        return [m.delta for m in self.metrics]


def _derived_superstep_partitions(spark: SparkSession, n_rows: int) -> int | None:
    """Scale-adaptive shuffle width for the per-superstep exchanges:
    ``min(session conf, ceil(n_rows / SUPERSTEP_ROWS_PER_TASK))``.

    A fixed ``spark.sql.shuffle.partitions`` is tuned for ONE scale; an
    iterative job pays its per-task overhead once per superstep, so a
    small graph under a wide session setting spends the whole superstep
    scheduling near-empty tasks (measured on the sf0.1 bench graph:
    64→16 loop partitions took the median steady-state superstep from
    ~0.8 s to ~0.5 s at identical results). The derivation only ever
    NARROWS the session setting — big inputs keep the admin-chosen
    width, so cluster runs are untouched. Returns None when no
    narrowing applies."""
    try:
        session_parts = int(spark.conf.get(_WIDTH))
    except Exception:
        return None
    derived = max(1, -(-int(n_rows) // SUPERSTEP_ROWS_PER_TASK))
    return derived if derived < session_parts else None


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
        #: the last superstep's state was reloaded from its checkpoint
        #: shard, so no cache backs it
        self._saved = False
        self._last = 0
        self._t0 = 0.0
        #: (cache, superstep at whose end it is dropped; None = at exit)
        self._caches: list[tuple[DataFrame, int | None]] = []
        self._restore_width: str | None = None

    def __enter__(self) -> SuperstepLoop:
        return self

    def __exit__(self, *exc) -> None:
        try:
            for df, _ in self._caches:
                df.unpersist()
            self._caches = []
        finally:
            if self._restore_width is not None:
                self.spark.conf.set(_WIDTH, self._restore_width)
                self._restore_width = None

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
        re-shuffles or re-sorts the edges. Laid out under the session
        width: call :meth:`narrow` after it."""
        cached = self.cache(
            edges.select("src", "dst")
            .repartition(F.col(key))
            .sortWithinPartitions(key)
        )
        self.n_edges = cached.count()
        return cached

    def narrow(self) -> None:
        """Narrow the session's shuffle width to
        :func:`_derived_superstep_partitions` of ``n_edges`` for every
        exchange planned from here on; the session value comes back at
        exit."""
        derived = _derived_superstep_partitions(self.spark, self.n_edges)
        if derived:
            if self._restore_width is None:
                self._restore_width = self.spark.conf.get(_WIDTH)
            self.spark.conf.set(_WIDTH, str(derived))

    def resume(self, resume: bool) -> DataFrame | None:
        """The latest checkpoint shard when ``resume`` is set and one
        exists (supersteps then continue after it), else None."""
        latest = self.ckpt.latest() if resume and self.ckpt is not None else None
        if latest is None:
            return None
        self.start_iter = self.it = latest
        return self.ckpt.load(self.spark, latest)

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

    def end(self, state: DataFrame, delta: float, converged: bool, **extra) -> DataFrame:
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
        )
