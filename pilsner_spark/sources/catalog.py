"""Table catalog abstraction: Iceberg in production, Parquet locally.

The production deployment targets Iceberg tables (`df.writeTo(...)` +
`spark.sql.catalog.*`); this sandbox has no Iceberg jars, so the same
interface falls back to partitioned Parquet plus a ``_lineage.json``
sidecar carrying what an Iceberg snapshot would: stage parameters hash,
row/partition counts, wall time, input lineage. All checkpoint/resume logic
is written against this interface so the Iceberg path is config-only
(SURVEY.md §7.0).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def params_hash(params: dict) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()[:16]


@dataclass
class Catalog:
    spark: SparkSession
    root: str
    use_iceberg: bool = False  # flips the write/read path only

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _lineage_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}._lineage.json")

    def exists(self, table: str, expected_params: Optional[dict] = None) -> bool:
        """A table checkpoint is valid if its data and lineage exist and the
        recorded params hash matches — the stage-skip test for resume."""
        if not os.path.exists(self._lineage_path(table)):
            return False
        if expected_params is None:
            return True
        try:
            with open(self._lineage_path(table)) as f:
                lineage = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return lineage.get("params_hash") == params_hash(expected_params)

    def write(self, df: DataFrame, table: str, params: Optional[dict] = None) -> dict:
        """Materialize a stage output + lineage sidecar; returns metrics.

        The old sidecar is removed before the data is overwritten and the
        new one is written last, so a write that fails midway leaves no
        sidecar: ``exists`` is False and the next run recomputes instead of
        resuming half-written data."""
        start = time.time()
        path = self._path(table)
        try:
            os.remove(self._lineage_path(table))
        except FileNotFoundError:
            pass
        if self.use_iceberg:
            df.writeTo(table).createOrReplace()
            out = self.read(table)
            per_partition = [
                {"partition": int(i), "rows": int(n)}
                for i, n in out.withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid")
                .count()
                .orderBy("_pid")
                .collect()
            ]
        else:
            df.write.mode("overwrite").parquet(path)
            out = self.read(table)
            # per-partition lineage from parquet footers (file metadata) —
            # what an Iceberg snapshot's manifest carries; zero extra scan
            # (the Spark-job alternative re-reads every written row). Footer
            # reads go through a thread pool: serial reads cost ~20ms x
            # n_files per stage of pure driver latency, which is dead time
            # at every parallelism level (it was a visible slice of the
            # fixed per-stage cost in the scaling runs).
            import glob as _glob
            from concurrent.futures import ThreadPoolExecutor

            import pyarrow.parquet as _pq

            files = sorted(_glob.glob(os.path.join(path, "part-*")))
            with ThreadPoolExecutor(max_workers=16) as ex:
                rows_per_file = list(ex.map(lambda f: int(_pq.ParquetFile(f).metadata.num_rows), files))
            per_partition = [
                {"partition": i, "rows": n} for i, n in enumerate(rows_per_file)
            ]
        lineage = {
            "table": table,
            "params_hash": params_hash(params or {}),
            "params": params or {},
            "rows": int(sum(p["rows"] for p in per_partition)),
            "partitions": per_partition,
            "wall_seconds": round(time.time() - start, 3),
            "schema": out.schema.simpleString(),
        }
        self._write_lineage(table, lineage)
        return lineage

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(table)
        return self.spark.read.parquet(self._path(table))

    def amend_lineage(self, table: str, extra: dict) -> None:
        """Merge stage-level metrics (e.g. Observation results collected
        during the write job) into the lineage sidecar, so they survive
        resume exactly like row counts do."""
        lineage = self.lineage(table)
        if lineage is None:
            return
        lineage.update(extra)
        self._write_lineage(table, lineage)

    def _write_lineage(self, table: str, lineage: dict) -> None:
        """Temp file + os.replace: a crash mid-write never leaves a
        truncated sidecar under the real name."""
        path = self._lineage_path(table)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=1)
        os.replace(tmp, path)

    def lineage(self, table: str) -> Optional[dict]:
        try:
            with open(self._lineage_path(table)) as f:
                return json.load(f)
        except OSError:
            return None
