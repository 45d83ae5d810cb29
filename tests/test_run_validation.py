"""scripts/run_validation.py end to end, and the suite's single-evaluation
write path: one manifest row and one violations dir per partition, the
jobs each phase launches, no cached blocks left behind, and a typed
manifest."""

from __future__ import annotations

import importlib.util
import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from logdata_anomaly_miner_spark.constraints.suite import (
    NO_TS_PARTITION,
    SuiteConfig,
    run_suite,
)
from logdata_anomaly_miner_spark.datagen import gen_documents, gen_media
from logdata_anomaly_miner_spark.frames import from_driver
from logdata_anomaly_miner_spark.plans.checkpoint import MANIFEST_SCHEMA, CheckpointManifest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = 200
DAY0 = 1_699_920_000.0  # a UTC midnight
NULL_TS_DOC = "doc0000000005"


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Two UTC days of documents plus one document with a null ``ts``."""
    d = tmp_path_factory.mktemp("validate")
    docs = gen_documents(spark, n_docs=N_DOCS, seed=7).withColumn(
        "ts",
        F.when(F.col("doc_id") == NULL_TS_DOC, F.lit(None).cast("double")).otherwise(
            F.lit(DAY0) + (F.col("ts") - F.lit(1.7e9)) * F.lit(2 * 86400.0 / (N_DOCS * 0.1))
        ),
    )
    docs.coalesce(2).write.parquet(str(d / "documents.parquet"))
    gen_media(spark, 1000).coalesce(1).write.parquet(str(d / "media.parquet"))
    return d


def _main(tables, out, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "run_validation", os.path.join(ROOT, "scripts", "run_validation.py")
    )
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)
    monkeypatch.setattr(sys, "argv", [
        "run_validation.py", "--docs", str(tables / "documents.parquet"),
        "--media", str(tables / "media.parquet"), "--out", str(out),
    ])
    assert script.main() == 0


def _in_group(spark, group, fn):
    """``fn`` with every job it launches under the job group ``group``."""
    sc = spark.sparkContext

    def run(*a, **kw):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return fn(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    return run


def test_main_writes_one_manifest_row_and_violations_dir_per_partition(
    spark, tables, tmp_path, monkeypatch
):
    out = tmp_path / "out"
    _main(tables, out, monkeypatch)
    manifest = pq.read_table(out / "manifest").to_pylist()
    parts = sorted(r["partition"] for r in manifest)
    # the null-ts doc is validated under the sentinel, not dropped or crashed on
    assert parts == ["2023-11-14", "2023-11-15", NO_TS_PARTITION]
    assert sum(r["rows_scanned"] for r in manifest) == N_DOCS
    assert next(r for r in manifest if r["partition"] == NO_TS_PARTITION)["rows_scanned"] == 1
    for r in manifest:
        written = pq.read_table(out / "violations" / f"partition={r['partition']}")
        assert written.num_rows == r["violations"]
        assert set(written.column("partition").to_pylist()) <= {r["partition"]}
    assert sum(r["violations"] for r in manifest) > 0


def test_violations_write_and_commit_launch_one_job_per_partition(
    spark, tables, tmp_path, monkeypatch
):
    """Host-independent: the violations are written from the suite's own
    cache (one job, no recomputation of the checks) and the manifest row
    enters Spark without a Python-worker job."""
    run_id = os.urandom(4).hex()
    g_write, g_commit, g_rest = (f"{p}-{run_id}" for p in ("write", "commit", "rest"))
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if "/violations/" in str(path):
            return _in_group(spark, g_write, real_parquet)(self, path, *a, **kw)
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(CheckpointManifest, "commit",
                        _in_group(spark, g_commit, CheckpointManifest.commit))
    _in_group(spark, g_rest, _main)(tables, tmp_path / "out", monkeypatch)

    jobs = {g: len(spark.sparkContext.statusTracker().getJobIdsForGroup(g))
            for g in (g_write, g_commit, g_rest)}
    n_parts = 3
    assert 0 < jobs[g_write] <= n_parts
    assert 0 < jobs[g_commit] <= n_parts
    assert jobs[g_rest] > jobs[g_write]  # the suite's own jobs sit in the rest


def test_run_suite_leaves_nothing_cached(spark, tmp_path):
    docs = gen_documents(spark, n_docs=150, seed=3)
    media = gen_media(spark, 1000)
    cfg = SuiteConfig(entropy_prob_thresh=0.0)

    def cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = cached()
    for i, (persist, path) in enumerate(
        [(True, None), (True, tmp_path / "v0"), (False, None), (False, tmp_path / "v1")]
    ):
        res = run_suite(spark, docs, media, cfg, persist=persist,
                        violations_path=str(path) if path else None)
        assert cached() == before, f"call {i} left cached RDDs"
        if path:
            assert pq.read_table(path).num_rows == res.metrics["violations"]
        # verdicts come from the collected rows: reading them caches nothing
        verdicts = res.verdicts.collect()
        assert sum(r["n_violations"] for r in verdicts) == res.metrics["violations"]
        assert cached() == before


def test_manifest_round_trips_typed(spark, tmp_path):
    m = CheckpointManifest(spark, str(tmp_path / "manifest"))
    schema = StructType.fromDDL(MANIFEST_SCHEMA)
    assert m.read().schema == schema  # empty manifest
    m.commit(1, "2023-11-14", rows_scanned=100, violations=2, wall_time_s=1.5)
    m.commit(1, "2023-11-15", rows_scanned=2**40, violations=0, wall_time_s=0.25)
    df = m.read()
    assert df.schema == schema
    rows = sorted(df.collect(), key=lambda r: r["partition"])
    assert [(r["rows_scanned"], r["violations"]) for r in rows] == [(100, 2), (2**40, 0)]
    for r in rows:
        assert all(type(r[c]) is int for c in ("snapshot_id", "rows_scanned", "violations"))
        assert type(r["wall_time_s"]) is float
    arrow = pq.read_table(str(tmp_path / "manifest")).schema
    assert str(arrow.field("rows_scanned").type) == "int64"
    assert len([f for f in os.listdir(tmp_path / "manifest") if f.endswith(".parquet")]) == 2


def test_from_driver_keeps_nullable_ints(spark):
    df = from_driver(spark, [("a", 1, None), ("b", None, 2.5)],
                     "k string, n long, x double")
    assert df.schema.simpleString() == "struct<k:string,n:bigint,x:double>"
    rows = sorted(df.collect())
    assert [tuple(r) for r in rows] == [("a", 1, None), ("b", None, 2.5)]
    assert type(rows[0]["n"]) is int
    assert from_driver(spark, [], "k string, n long").count() == 0
