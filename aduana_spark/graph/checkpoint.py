"""Per-superstep checkpointing with lineage + metrics (north rule).

Each superstep of an iterative algorithm can persist its score shards
as parquet under ``<dir>/<algo>/iter=K/`` together with a manifest
entry ``<dir>/<algo>/manifest/iter_K.json`` recording
(iteration, delta, rows, wall-time, extra metrics). Shard writes are
idempotent (overwrite by iteration directory) and the manifest file is
written *after* the shard, so the latest complete iteration is simply
the max K with a manifest entry — a killed job resumes mid-iteration
by reloading that shard (SURVEY.md §7 risk notes).

This doubles as lineage truncation: reading the shard back gives the
driver loop a fresh plan root, keeping plan depth O(1) across ~100
iterations instead of O(iters).

The driver-side (local) loops hand :meth:`CheckpointManager.save` a
``pyarrow.Table`` instead, written as ``iter=K/part-00000.parquet``
with the same columns and types as the Spark shard, so either loop
resumes from a shard the other wrote.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow as pa


class CheckpointManager:
    def __init__(self, base_dir: str, algo: str):
        self.dir = os.path.join(base_dir, algo)
        self.manifest_dir = os.path.join(self.dir, "manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    def shard_path(self, iteration: int) -> str:
        return os.path.join(self.dir, f"iter={iteration}")

    def _manifest_path(self, iteration: int) -> str:
        return os.path.join(self.manifest_dir, f"iter_{iteration:06d}.json")

    def save(
        self, iteration: int, df: DataFrame | pa.Table, metrics: dict
    ) -> DataFrame | pa.Table:
        """Write shard + manifest; return the reloaded (lineage-free)
        DataFrame, or the table itself."""
        path = self.shard_path(iteration)
        t0 = time.time()
        if isinstance(df, DataFrame):
            df.write.mode("overwrite").parquet(path)
        else:
            import pyarrow.parquet as pq

            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            pq.write_table(df, os.path.join(path, "part-00000.parquet"))
        entry = {
            "iteration": iteration,
            "checkpoint_write_sec": time.time() - t0,
            **metrics,
        }
        tmp = self._manifest_path(iteration) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, self._manifest_path(iteration))
        if not isinstance(df, DataFrame):
            return df
        return df.sparkSession.read.parquet(path)

    def iterations(self) -> list[int]:
        out = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("iter_") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    def latest(self) -> int | None:
        its = self.iterations()
        return its[-1] if its else None

    def load(self, spark: SparkSession, iteration: int) -> DataFrame:
        return spark.read.parquet(self.shard_path(iteration))

    def load_table(self, iteration: int) -> pa.Table:
        import pyarrow.parquet as pq

        return pq.read_table(self.shard_path(iteration))

    def manifest(self, iteration: int) -> dict:
        with open(self._manifest_path(iteration)) as f:
            return json.load(f)
