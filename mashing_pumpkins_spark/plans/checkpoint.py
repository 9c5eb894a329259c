"""Stage checkpoint store: parquet + JSON manifests, resume-aware.

Each completed stage commits (atomically: write to _tmp, fsync manifest
last) a parquet snapshot plus a manifest carrying the config hash, row
count, per-partition row counts (the lineage/metrics record the north star
asks for), and wall time. `has()` answers "can this stage be skipped on
resume" — only if the manifest is complete AND was produced by the same
config hash.

The production target is an Iceberg catalog (`df.writeTo(...).createOrReplace()`
gives snapshot ids and atomic commits for free); this store implements the
same contract over plain parquet so the sandbox (no Iceberg runtime jar)
exercises identical resume logic. The interface is storage-agnostic on
purpose.

`PersistStore` meets the same `get_or_compute` contract without commits:
each stage is a lazily persisted frame (no resume, nothing written), the
store the checkpoint-free flow runs the pipeline over. `release()` drops
every frame it persisted.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class StageResult:
    name: str
    rows: int | None  # None: the store did not count the stage
    wall_sec: float
    partition_counts: list[int]
    skipped: bool


class ParquetCheckpointStore:
    def __init__(self, root: str, config_hash: str):
        self.root = pathlib.Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.config_hash = config_hash

    def _paths(self, stage: str) -> tuple[pathlib.Path, pathlib.Path]:
        return self.root / f"{stage}.parquet", self.root / f"{stage}.manifest.json"

    def has(self, stage: str) -> bool:
        data, manifest = self._paths(stage)
        if not (data.exists() and manifest.exists()):
            return False
        try:
            meta = json.loads(manifest.read_text())
        except (OSError, json.JSONDecodeError):
            return False
        return meta.get("complete") is True and meta.get("config_hash") == self.config_hash

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        data, manifest = self._paths(stage)
        try:
            return spark.read.parquet(str(data))
        except Exception:
            # An empty stage writes no part files; reconstruct from the
            # schema recorded in the manifest — but ONLY when the manifest
            # says the stage really had 0 rows. A corrupted / partially
            # deleted snapshot whose directory still exists must fail loudly,
            # not resume as a silently-empty stage.
            from pyspark.sql.types import StructType

            meta = json.loads(manifest.read_text())
            if meta.get("rows", -1) != 0:
                raise
            schema = StructType.fromJson(meta["schema"])
            return spark.createDataFrame([], schema)

    def manifest(self, stage: str) -> dict:
        _, manifest = self._paths(stage)
        return json.loads(manifest.read_text())

    def write(self, spark: SparkSession, stage: str, df: DataFrame) -> tuple[DataFrame, StageResult]:
        """Materialize a stage. Returns (re-read DataFrame, metrics)."""
        data, manifest = self._paths(stage)
        t0 = time.monotonic()
        tmp = self.root / f"_tmp_{stage}.parquet"
        if tmp.exists():
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(str(tmp))
        schema_json = df.schema.json()
        # lineage: per-partition (= per part-file) row counts straight from
        # the parquet footers — no second Spark scan of the snapshot
        import pyarrow.parquet as pq

        partition_counts = [
            pq.ParquetFile(p).metadata.num_rows
            for p in sorted(tmp.glob("part-*.parquet"))
        ]
        rows = int(sum(partition_counts))
        if data.exists():
            shutil.rmtree(data)
        tmp.rename(data)
        wall = time.monotonic() - t0
        manifest.write_text(
            json.dumps(
                {
                    "stage": stage,
                    "complete": True,
                    "config_hash": self.config_hash,
                    "rows": rows,
                    "wall_sec": wall,
                    "partition_counts": partition_counts,
                    "schema": json.loads(schema_json),
                    "written_at_monotonic": time.monotonic(),
                }
            )
        )
        return (
            self.read(spark, stage),
            StageResult(stage, rows, wall, partition_counts, skipped=False),
        )

    def get_or_compute(
        self, spark: SparkSession, stage: str, compute
    ) -> tuple[DataFrame, StageResult]:
        if self.has(stage):
            meta = self.manifest(stage)
            return (
                self.read(spark, stage),
                StageResult(
                    stage,
                    meta["rows"],
                    0.0,
                    meta.get("partition_counts", []),
                    skipped=True,
                ),
            )
        return self.write(spark, stage, compute())


class PersistStore:
    """Stages as lazily persisted frames: a stage is computed by the first
    job that needs it and read from memory/disk by every later consumer
    (signatures feed banding and verify; bands feed the bucket-size
    aggregate and both self-join sides). Counting a stage would cost a job,
    so results carry ``rows=None`` and no partition counts."""

    def __init__(self):
        self._frames: list[DataFrame] = []

    def get_or_compute(
        self, spark: SparkSession, stage: str, compute
    ) -> tuple[DataFrame, StageResult]:
        from pyspark.storagelevel import StorageLevel

        t0 = time.monotonic()
        df = compute().persist(StorageLevel.MEMORY_AND_DISK)
        self._frames.append(df)
        return df, StageResult(stage, None, time.monotonic() - t0, [], skipped=False)

    def release(self) -> None:
        for df in self._frames:
            df.unpersist()
        self._frames.clear()
