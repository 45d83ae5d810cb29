"""The three workloads: inputs, table open, one timed pass, and its check.

Every workload is closed-loop from one driver thread: an operation is
issued only after the previous one has completed. A pass returns the
operations it ran, each as (name, seconds), plus what the untimed check
needs. Checks run after the pass, outside every timed region.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import corpus

# One query per library layer the suite never touches, each certified by
# its DuckDB oracle. The remaining queries of engine_queries.QUERIES are
# left out to keep one pass inside the run budget (README.md).
DETECTOR_QUERIES = [
    "dedup_exact", "chi2_pairs", "var_gof_discrete", "near_dup_cos", "referential",
]
# the layers those queries are attributed to in the traced run
DETECTOR_MODULE_METRICS = [
    "functions.dedup", "functions.similarity", "operators.correlation",
    "operators.var_gof", "constraints",
]
DETECTOR_TABLES = ["events", "documents", "embeddings", "customer", "lineitem"]
SUITE_DOCS = 50_000
VALIDATE_DAYS = 2
VALIDATE_DOCS_PER_DAY = 300


@dataclass
class PassResult:
    wall_s: float
    docs: int
    ops: list[tuple[str, float]]
    outputs: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU seconds of the process tree, set by the caller


def fingerprint(rows) -> str:
    """Order-insensitive digest of integer verdict counts."""
    h = hashlib.sha256()
    for row in sorted(tuple(str(x) for x in r) for r in rows):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _expected(workload: str, key: str, seed: int) -> str | None:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(path) as fh:
        return json.load(fh).get(workload, {}).get(key, {}).get(str(seed))


def check_fingerprint(workload: str, key: str, seed: int, got: str, log) -> bool:
    want = _expected(workload, key, seed)
    if want is None:
        log(f"{workload}: seed {seed} unrecorded ({key}); fingerprint {got}")
        return True
    return want == got


# --------------------------------------------------------------------------
# detectors: engine queries over seeded sf-shaped tables, DuckDB oracles
# --------------------------------------------------------------------------

class Detectors:
    name = "detectors"

    def inputs(self, spark, seed: int, root: str, out_root: str) -> None:
        self.seed = seed
        self.dir = corpus.detector_tables(root, seed)
        self.n_events = corpus.read_meta(self.dir)["rows"]["events"]
        # a fixed order: the first query of a pass pays the cold JIT and the
        # Python-worker start, so a seed-permuted order moved op_p50_s alone
        self.order = list(DETECTOR_QUERIES)

    def open(self, spark) -> None:
        for t in DETECTOR_TABLES:
            spark.read.parquet(f"{self.dir}/{t}.parquet").schema  # footer read

    def run_pass(self, spark, tracer) -> PassResult:
        from logdata_anomaly_miner_spark.engine_queries import QUERIES

        ops, rows = [], {}
        t_pass = time.time()
        for q in self.order:
            with tracer.span(f"query.{q}", op=q):
                t0 = time.time()
                try:
                    with tracer.span("build"):
                        df = QUERIES[q](spark, self.dir)
                    with tracer.span("exec"):
                        # forcing by collect: the checked rows are the timed rows
                        rows[q] = (df.columns, df.collect())
                except Exception as e:  # noqa: BLE001 — counted as failed
                    rows[q] = e
                ops.append((q, time.time() - t0))
        return PassResult(time.time() - t_pass, self.n_events, ops, {"rows": rows})

    def check(self, res: PassResult, log) -> list[str]:
        import duckdb

        from logdata_anomaly_miner_spark.engine_queries import ORACLES
        from check_oracle import value_hash

        con = duckdb.connect()
        try:
            for t in DETECTOR_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            failed = []
            for q, out in res.outputs["rows"].items():
                if isinstance(out, Exception):
                    log(f"detectors: {q} raised {type(out).__name__}: {str(out)[:200]}")
                    failed.append(q)
                    continue
                cols, srows = out
                r = con.execute(ORACLES[q])
                dcols = [d[0] for d in r.description]
                drows = r.fetchall()
                srows = [[row[c] for c in cols] for row in srows]
                if (
                    len(srows) != len(drows) or sorted(cols) != sorted(dcols)
                    or value_hash(srows, cols) != value_hash(drows, dcols)
                ):
                    log(f"detectors: {q} differs from its oracle "
                        f"({len(srows)} vs {len(drows)} rows)")
                    failed.append(q)
            return failed
        finally:
            con.close()


# --------------------------------------------------------------------------
# suite_scan: one run_suite(persist=False) over a parquet documents table
# --------------------------------------------------------------------------

def _verdict_rows(verdicts) -> list[tuple]:
    return [(r["partition"], r["suite"], int(r["n_violations"])) for r in verdicts.collect()]


class SuiteScan:
    """The suite in the configuration its DuckDB oracle replicates
    (engine_queries q_suite_verdicts): entropy critical value < 0.15 and PSI
    drift against the corpus's short-span length histogram."""

    name = "suite_scan"
    n_docs = SUITE_DOCS

    def inputs(self, spark, seed: int, root: str, out_root: str) -> None:
        self.seed = seed
        self.dir = corpus.suite_documents(spark, root, seed, self.n_docs)

    def open(self, spark) -> None:
        self.docs = spark.read.parquet(f"{self.dir}/documents.parquet")
        self.media = spark.read.parquet(f"{self.dir}/media.parquet")

    def run_pass(self, spark, tracer) -> PassResult:
        from pyspark.sql import functions as F

        from logdata_anomaly_miner_spark.constraints.drift import histogram
        from logdata_anomaly_miner_spark.constraints.suite import SuiteConfig, run_suite
        from logdata_anomaly_miner_spark.datagen import explode_spans

        t0 = time.time()
        with tracer.span("suite", op="suite"):
            try:
                text = F.col("text")
                short = explode_spans(self.docs).filter(
                    text.isNotNull()
                    & ((F.length(text) - F.length(F.regexp_replace(text, " ", ""))) <= 1)
                ).withColumn("text_len", F.length(text).cast("double"))
                base_hist = histogram(short, "text_len", 0.0, 200.0, 10, ["kind"])
                res = run_suite(
                    spark, self.docs, self.media,
                    SuiteConfig(entropy_prob_thresh=0.15, baseline_hist=base_hist),
                    persist=False,
                )
                res.verdicts.write.format("noop").mode("overwrite").save()
                out = {"metrics": res.metrics, "verdicts": res.verdicts}
            except Exception as e:  # noqa: BLE001 — counted as failed
                out = {"error": e}
        wall = time.time() - t0
        return PassResult(wall, self.n_docs, [("suite", wall)], out)

    def _oracle(self) -> list[list]:
        """DuckDB verdicts for this corpus, computed once and cached beside it."""
        path = os.path.join(self.dir, "oracle.json")
        if not os.path.exists(path):
            import duckdb

            from logdata_anomaly_miner_spark import engine_queries as eq

            sql = eq.ORACLES["suite_verdicts"].replace(eq.SUITE_CORPUS_DIR, self.dir)
            con = duckdb.connect()
            try:
                rows = [[p, s, int(n)] for p, s, n, _ in con.execute(sql).fetchall()]
            finally:
                con.close()
            with open(path + ".tmp", "w") as fh:
                json.dump(rows, fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            return json.load(fh)

    def check(self, res: PassResult, log) -> list[str]:
        out = res.outputs
        if "error" in out:
            log(f"suite_scan: run_suite raised {out['error']!r}"[:300])
            return ["suite"]
        # the suite adds a zero-count row for a partition without violations;
        # the schema suite is not replicated by the oracle (its generated
        # corpus has no schema violations, so it must stay absent)
        got = [r for r in _verdict_rows(out["verdicts"]) if r[1] is not None]
        ok = True
        if out["metrics"]["rows_scanned"] != self.n_docs:
            log(f"suite_scan: rows_scanned {out['metrics']['rows_scanned']} != {self.n_docs}")
            ok = False
        if sorted(got) != sorted(tuple(r) for r in self._oracle()):
            log("suite_scan: verdict counts differ from the DuckDB oracle")
            ok = False
        fp = fingerprint(got)
        if not check_fingerprint(self.name, f"n{self.n_docs}", self.seed, fp, log):
            log(f"suite_scan: verdict fingerprint {fp} differs from the recorded one")
            ok = False
        return [] if ok else ["suite"]


# --------------------------------------------------------------------------
# validate_cli: the shipped scripts/run_validation.py main()
# --------------------------------------------------------------------------

class _StampedLines(io.TextIOBase):
    """stdout replacement that records (time, line) for each printed line."""

    def __init__(self):
        self.lines: list[tuple[float, str]] = []
        self._buf = ""

    def write(self, s: str) -> int:
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self.lines.append((time.time(), line))
        return len(s)


class ValidateCli:
    name = "validate_cli"
    days = VALIDATE_DAYS
    n_docs = VALIDATE_DAYS * VALIDATE_DOCS_PER_DAY

    def inputs(self, spark, seed: int, root: str, out_root: str) -> None:
        self.seed = seed
        self.dir = corpus.suite_documents(spark, root, seed, self.n_docs, days=self.days)
        spec = importlib.util.spec_from_file_location(
            "run_validation", os.path.join("scripts", "run_validation.py"))
        self.script = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.script)
        self.out_root = out_root
        self.passes = 0

    def open(self, spark) -> None:
        # the script opens its own tables; warm their footers like the others
        spark.read.parquet(f"{self.dir}/documents.parquet").schema
        spark.read.parquet(f"{self.dir}/media.parquet").schema

    def run_pass(self, spark, tracer) -> PassResult:
        self.passes += 1
        out = os.path.join(self.out_root, f"pass-{self.passes}")
        argv = ["run_validation.py", "--docs", f"{self.dir}/documents.parquet",
                "--media", f"{self.dir}/media.parquet", "--out", out,
                "--snapshot-id", "1"]
        lines = _StampedLines()
        saved_argv = sys.argv
        sys.argv = argv
        t0 = time.time()
        try:
            with tracer.span("validate.main", op="validate"), \
                    contextlib.redirect_stdout(lines):
                rc = self.script.main()
        except Exception as e:  # noqa: BLE001 — counted as failed
            rc = e
        finally:
            sys.argv = saved_argv
        wall = time.time() - t0
        # partition time from outside: the gap between the script's lines
        ops, prev = [], None
        for ts, line in lines.lines:
            if line.startswith("{"):
                ops.append((json.loads(line)["partition"], ts - prev))
            prev = ts
        return PassResult(wall, self.n_docs, ops,
                          {"rc": rc, "out": out, "lines": [ln for _, ln in lines.lines]})

    def check(self, res: PassResult, log) -> list[str]:
        """Failed partitions; a failure of the whole run fails every one."""
        import pyarrow.parquet as pq

        o = res.outputs
        parts = [p for p, _ in res.ops] or ["main"]
        try:
            if o["rc"] != 0:
                log(f"validate_cli: main() returned {o['rc']!r}"[:300])
                return parts
            manifest_dir = os.path.join(o["out"], "manifest")
            if not os.path.isdir(manifest_dir):
                log("validate_cli: no manifest was written")
                return parts
            manifest = pq.read_table(manifest_dir).to_pylist()
            by_part: dict[str, list] = {}
            for r in manifest:
                by_part.setdefault(r["partition"], []).append(r)
            failed = set()
            if len(parts) != self.days or set(parts) != set(by_part):
                log(f"validate_cli: ran {parts}, manifest has {sorted(by_part)}")
                failed.update(parts)
            for p, rows in by_part.items():
                vdir = os.path.join(o["out"], "violations", f"partition={p}")
                n_written = pq.read_table(vdir).num_rows if os.path.isdir(vdir) else -1
                if len(rows) != 1 or n_written != rows[0]["violations"]:
                    log(f"validate_cli: {p}: {len(rows)} manifest rows, "
                        f"{n_written} violations written")
                    failed.add(p)
            if sum(r["rows_scanned"] for r in manifest) != self.n_docs:
                log("validate_cli: manifest rows_scanned does not sum to the generated docs")
                failed.update(parts)
            fp = fingerprint((r["partition"], r["rows_scanned"], r["violations"])
                             for r in manifest)
            if not check_fingerprint(self.name, f"n{self.n_docs}-d{self.days}",
                                     self.seed, fp, log):
                log(f"validate_cli: manifest fingerprint {fp} differs from the recorded one")
                failed.update(parts)
            return sorted(failed & set(parts))
        finally:
            shutil.rmtree(o["out"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (SuiteScan, Detectors, ValidateCli)}
