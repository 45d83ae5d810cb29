"""The benchmark's own tests, at tiny sizes.

Run from the repository root:  python -m pytest perfbench/tests -q
Each run.py invocation here starts its own JVM, so the file takes a few
minutes; the checks on single workloads share one session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "scripts")]

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tiny_run(workload: str, trace: int) -> list[str]:
    """run.main() in a child process, shrunk to one tiny operation."""
    code = (
        "import sys; sys.path[:0] = ['perfbench', '.', 'scripts']\n"
        "import run, workloads\n"
        "workloads.DETECTOR_QUERIES[:] = ['dedup_exact']\n"
        "workloads.ValidateCli.days = 1\n"
        "workloads.ValidateCli.n_docs = 200\n"
        f"raise SystemExit(run.main(['--workload', '{workload}', '--seed', '7', "
        f"'--seconds', '1', '--trace', '{trace}']))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout.strip().splitlines()


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_every_named_metric_is_printed_with_its_unit(trace, key):
    result = json.loads(_tiny_run("detectors", trace)[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "detectors", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    saved = dict(os.environ)
    os.environ.update(run.host_settings(run_dir))
    owner = run.Spark(run_dir)
    cwd = os.getcwd()
    os.chdir(ROOT)  # the workloads read scripts/ relative to the root
    try:
        yield owner.start()
    finally:
        owner.close()
        os.chdir(cwd)
        os.environ.clear()
        os.environ.update(saved)


def _logs():
    lines = []
    return lines, lines.append


def test_planted_wrong_detector_output_is_counted_failed(spark, tmp_path, monkeypatch):
    from logdata_anomaly_miner_spark import engine_queries as eq

    wl = workloads.Detectors()
    wl.inputs(spark, 3, str(tmp_path / "corpus"), str(tmp_path / "out"))
    wl.order = ["dedup_exact", "uniqueness"]
    assert wl.check(wl.run_pass(spark, spans.NullTracer()), print) == []

    real = eq.QUERIES["dedup_exact"]
    monkeypatch.setitem(eq.QUERIES, "dedup_exact",
                        lambda s, d: real(s, d).limit(1))  # drops rows
    monkeypatch.setitem(eq.QUERIES, "uniqueness",
                        lambda s, d: 1 / 0)  # raises
    lines, log = _logs()
    failed = wl.check(wl.run_pass(spark, spans.NullTracer()), log)
    assert failed == ["dedup_exact", "uniqueness"]
    assert len(lines) == 2


def test_validate_cli_drives_the_shipped_script(spark, tmp_path, monkeypatch):
    from logdata_anomaly_miner_spark.plans.checkpoint import CheckpointManifest

    wl = workloads.ValidateCli()
    wl.days, wl.n_docs = 2, 400
    wl.inputs(spark, 5, str(tmp_path / "corpus"), str(tmp_path / "out"))
    assert os.path.samefile(wl.script.__file__,
                            os.path.join(ROOT, "scripts", "run_validation.py"))
    res = wl.run_pass(spark, spans.NullTracer())
    assert res.outputs["lines"][-1] == "done"  # printed by the script itself
    assert len(res.ops) == 2
    assert wl.check(res, print) == []

    # a partition whose commit is lost must fail the check
    real_commit = CheckpointManifest.commit
    calls = []

    def lossy(self, snapshot_id, partition, **kw):
        calls.append(partition)
        if len(calls) > 1:
            return real_commit(self, snapshot_id, partition, **kw)

    monkeypatch.setattr(CheckpointManifest, "commit", lossy)
    lines, log = _logs()
    assert wl.check(wl.run_pass(spark, spans.NullTracer()), log)
    assert lines


def test_suite_scan_matches_its_duckdb_oracle(spark, tmp_path):
    wl = workloads.SuiteScan()
    wl.n_docs = 2000
    wl.inputs(spark, 4, str(tmp_path / "corpus"), str(tmp_path / "out"))
    wl.open(spark)
    res = wl.run_pass(spark, spans.NullTracer())
    assert res.outputs["metrics"]["rows_scanned"] == 2000
    assert wl.check(res, print) == []

    # a verdict count that disagrees with the oracle must fail the check
    with open(os.path.join(wl.dir, "oracle.json")) as fh:
        rows = json.load(fh)
    rows[0][2] += 1
    with open(os.path.join(wl.dir, "oracle.json"), "w") as fh:
        json.dump(rows, fh)
    assert wl.check(res, print) == ["suite"]
