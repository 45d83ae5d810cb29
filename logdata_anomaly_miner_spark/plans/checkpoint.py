"""Checkpoint manifest: resumability at (snapshot, partition) granularity.

Mirrors AMiner's repositioning_data/persistence lifecycle
(aminer/AnalysisChild.py:280-284, aminer/util/PersistenceUtil.py:116-125):
progress is committed per partition so a restarted run skips completed work.

The manifest is a parquet table (one file per committed partition —
append-only, atomic at file granularity like the reference's tmpfile+link
swap). Schema (FIXTURES.md §2 checkpoint_manifest):
    (snapshot_id long, partition string, status string,
     rows_scanned long, violations long, wall_time_s double)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from logdata_anomaly_miner_spark.frames import from_driver

MANIFEST_SCHEMA = (
    "snapshot_id long, partition string, status string, "
    "rows_scanned long, violations long, wall_time_s double"
)


class CheckpointManifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return from_driver(self.spark, [], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def committed_partitions(self, snapshot_id: int) -> set[str]:
        if not self._exists():
            return set()
        return {
            r["partition"]
            for r in self.read()
            .filter(f"snapshot_id = {int(snapshot_id)} AND status = 'done'")
            .select("partition")
            .collect()
        }

    def commit(
        self,
        snapshot_id: int,
        partition: str,
        rows_scanned: int,
        violations: int,
        wall_time_s: float,
    ) -> None:
        row = (
            int(snapshot_id),
            str(partition),
            "done",
            int(rows_scanned),
            int(violations),
            float(wall_time_s),
        )
        # one Arrow batch -> one partition -> one file per commit
        from_driver(self.spark, [row], MANIFEST_SCHEMA).write.mode("append").parquet(
            self.path
        )
