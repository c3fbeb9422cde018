"""Table catalog abstraction: Iceberg in production, Parquet locally.

The production deployment targets Iceberg tables (`df.writeTo(...)` +
`spark.sql.catalog.*`); this sandbox has no Iceberg jars, so the same
interface falls back to partitioned Parquet plus a ``_lineage.json``
sidecar carrying what an Iceberg snapshot would: stage parameters hash,
row/partition counts, schema, a part-file manifest (name and byte size),
wall time, input lineage. Reads use the recorded schema, so a checkpoint
read is a file listing with no schema-inference Spark job; since no footer
is opened while planning, the manifest is what turns a missing or resized
part file into a recompute. All checkpoint/resume logic
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
from pyspark.sql.types import StructType


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
        """A table checkpoint is valid if its lineage sidecar parses, records
        the schema the read needs, every part file in its manifest is present
        at its recorded size, and the recorded params hash matches — the
        stage-skip test for resume. Sidecars without ``schema_json`` (written
        before schemas were recorded) are not valid: the stage recomputes."""
        lineage = self.lineage(table)
        if lineage is None or "schema_json" not in lineage:
            return False
        if not self.use_iceberg and not self._files_intact(table, lineage):
            return False
        return expected_params is None or lineage.get("params_hash") == params_hash(expected_params)

    def _files_intact(self, table: str, lineage: dict) -> bool:
        """Every manifest entry names an existing part file of the recorded
        byte size (``os.stat`` only; no Spark job, no footer read)."""
        path = self._path(table)
        try:
            return all(
                os.stat(os.path.join(path, p["file"])).st_size == p["bytes"] for p in lineage["partitions"]
            )
        except OSError:
            return False

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
            per_partition = [
                {"partition": int(i), "rows": int(n)}
                for i, n in self.read(table).withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid")
                .count()
                .orderBy("_pid")
                .collect()
            ]
        else:
            df.write.mode("overwrite").parquet(path)
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
                {"partition": i, "rows": n, "file": os.path.basename(f), "bytes": os.path.getsize(f)}
                for i, (f, n) in enumerate(zip(files, rows_per_file))
            ]
        lineage = {
            "table": table,
            "params_hash": params_hash(params or {}),
            "params": params or {},
            "rows": int(sum(p["rows"] for p in per_partition)),
            "partitions": per_partition,
            "wall_seconds": round(time.time() - start, 3),
            "schema": df.schema.simpleString(),
            # what read() plans with instead of inferring from footers
            "schema_json": df.schema.json(),
        }
        self._write_lineage(table, lineage)
        return lineage

    def read(self, table: str) -> DataFrame:
        """The checkpoint as a DataFrame. A parquet read uses the schema in
        the sidecar, so it launches no schema-inference job."""
        if self.use_iceberg:
            return self.spark.read.table(table)
        lineage = self.lineage(table)
        if lineage is None or "schema_json" not in lineage:
            raise ValueError(
                f"table {table!r} has no recorded schema: its lineage sidecar "
                f"{self._lineage_path(table)} is missing, truncated or predates "
                "schema_json; recompute the stage"
            )
        schema = StructType.fromJson(json.loads(lineage["schema_json"]))
        return self.spark.read.schema(schema).parquet(self._path(table))

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
        """The parsed sidecar, or None when it is missing or unreadable
        (e.g. truncated by a crash outside ``_write_lineage``)."""
        try:
            with open(self._lineage_path(table)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
