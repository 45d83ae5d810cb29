#!/usr/bin/env python3
"""Benchmark of the validation engine: one workload per run.

    python3 perfbench/run.py --workload suite_scan|detectors|validate_cli \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed (cached under perfbench/.work/corpus by seed and size), brings up
Spark on local[<cores>], times set-up three times, then runs passes of the
workload closed-loop for about ``--seconds`` (at least one pass) and
checks every operation's output outside the timed regions.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
instead runs one traced pass (span wrappers on, Spark event log on) and one
untraced pass, reports the per-layer metrics, and writes the spans to
perfbench/.work/trace-<workload>-s<seed>.json. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
REQUIRED = [
    "logdata_anomaly_miner_spark/constraints/suite.py",
    "logdata_anomaly_miner_spark/engine_queries.py",
    "scripts/run_validation.py",
    "scripts/check_oracle.py",
]
SETUP_REPEATS = 3


def host_settings(run_dir: str) -> dict[str, str]:
    """Spark settings that fit the machine: every core, a driver heap well
    below RAM (the session factory defaults to 16g), spill on disk, and
    every temporary file (Python's and the JVM's) inside the run dir."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(3, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GC_OPTS": f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    }


def tree_usage(root_pid: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) of root_pid and all its descendants,
    read from /proc: the Python driver, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, float]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited meanwhile
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime stime cutime cstime, then rss (fields 14-17 and 24 of stat)
        cpu = sum(int(x) for x in fields[11:15]) / tick
        usage[pid] = (int(fields[21]) * page, cpu)
    rss = cpu = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        r, c = usage.get(pid, (0, 0.0))
        rss, cpu = rss + r, cpu + c
        todo.extend(children.get(pid, []))
    return rss, cpu


class PeakRss:
    """Samples the process tree's RSS on a thread while active."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage(os.getpid())[0])
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Spark:
    """Owns the benchmark's Spark session and the JVM it runs in."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.session = None
        self.gateway = None

    def start(self, event_log: str | None = None):
        from logdata_anomaly_miner_spark.session import get_spark

        self.stop_session()
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        conf = {}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.session = get_spark(app_name="perfbench", master=f"local[{cores}]",
                                 shuffle_partitions=cores, extra_conf=conf)
        self.gateway = self.session.sparkContext._gateway
        return self.session

    def warm_up(self) -> None:
        """One small codegen'd aggregate, so the session's first job is not
        timed. Python workers start in the first pass that needs them."""
        self.session.range(100_000).selectExpr("sum(id)").collect()

    def cpu_probe_s(self) -> float:
        """The xxhash64 host-speed probe (scripts/cpu_ref.py, scaled down):
        recorded per run as a diagnostic, never used to normalise."""
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        q = "sum(xxhash64(id, id+1, id+2)/1e9)"
        self.session.range(0, 1_000_000, 1, cores).selectExpr(q).collect()
        t0 = time.time()
        self.session.range(0, 5_000_000 * cores, 1, cores * 2).selectExpr(q).collect()
        return time.time() - t0

    def stop_session(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        self.stop_session()
        if self.gateway is not None:
            proc = getattr(self.gateway, "proc", None)
            self.gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — last resort, then reap
                    proc.kill()
                    proc.wait()
            self.gateway = None
            # let a later session in this process launch a fresh JVM
            from pyspark import SparkContext

            SparkContext._gateway = None
            SparkContext._jvm = None


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; q in [0, 1]."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (pos - lo)


def measure(workload, spark, seconds: float, tracer, log):
    """Closed loop: passes back to back for ``seconds`` (at least one);
    a pass is started only if the previous one would still fit."""
    passes, failed_ops, attempted = [], [], 0
    t_start = time.time()
    while True:
        cpu0 = tree_usage(os.getpid())[1]
        res = workload.run_pass(spark, tracer)
        res.cpu_s = tree_usage(os.getpid())[1] - cpu0
        passes.append(res)
        attempted += len(res.ops) or 1
        failed_ops += workload.check(res, log)
        elapsed = sum(p.wall_s for p in passes)
        if elapsed + res.wall_s > seconds or time.time() - t_start > 3 * seconds:
            break
    return passes, attempted, failed_ops


def end_to_end(passes, setup_samples, peak_rss) -> dict:
    walls = [p.wall_s for p in passes]
    ops = [s for p in passes for _, s in p.ops]
    wall = statistics.median(walls)
    docs = statistics.median(p.docs / p.wall_s for p in passes)
    return {
        "setup_s": (statistics.median(setup_samples), "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (docs, "docs/s"),
        "cpu_s": (statistics.median(p.cpu_s for p in passes), "s"),
        "op_p50_s": (quantile(ops, 0.5), "s"),
        "op_p80_s": (quantile(ops, 0.8), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(tracer, event_log: str, traced, untraced_wall, span_cost, probe_s) -> dict:
    """Layer metrics of the traced pass, from its spans and the event log."""
    import spans as tr
    from workloads import DETECTOR_MODULE_METRICS

    spans = tracer.spans
    self_t = tr.self_times(spans)
    chains = tr.ancestors(spans)
    by_id = {s["id"]: s for s in spans}
    window = (min(s["start"] for s in spans), max(s["end"] for s in spans))
    totals, span_jobs = tr.spark_metrics(tr.read_event_log(event_log), set(by_id), window)

    def span_total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    write_s = sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "write"
        and not any(by_id[a]["name"] == "plans.checkpoint.commit" for a in chains[s["id"]])
    )
    # detectors: each query belongs to the layer of the library call that
    # took most of its build; build/exec seconds and jobs add up per layer
    layers: dict[str, dict[str, float]] = {}
    for q in (s for s in spans if s["name"].startswith("query.")):
        kids = [s for s in spans if s["parent"] == q["id"]]
        build = next(s for s in kids if s["name"] == "build")
        lib_calls = [s for s in spans if s["parent"] == build["id"]
                     and s["name"].split(".")[0] in tr.QUERY_LAYER_PACKAGES]
        top = max(lib_calls, key=lambda s: s["end"] - s["start"], default=None)
        layer = tr.layer_of(top["name"]) if top else "engine_queries"
        acc = layers.setdefault(layer, {"build_s": 0.0, "exec_s": 0.0, "jobs": 0})
        for k in kids:
            acc[k["name"] + "_s"] += k["end"] - k["start"]
        acc["jobs"] += sum(n for sid, n in span_jobs.items() if q["id"] in chains[sid])
    out = {}
    for layer in DETECTOR_MODULE_METRICS:
        acc = layers.get(layer, {"build_s": 0.0, "exec_s": 0.0, "jobs": 0})
        out[f"{layer}.build_s"] = (acc["build_s"], "s")
        out[f"{layer}.exec_s"] = (acc["exec_s"], "s")
        out[f"{layer}.jobs"] = (acc["jobs"], "count")
    for k, v in totals.items():
        unit = ("s" if k.endswith("_s") else "bytes" if "bytes" in k
                else "rows" if "rows" in k else "count")
        out[k] = (v, unit)
    tops = [s for s in spans if s["parent"] is None]
    covered = sum(s["end"] - s["start"] for s in tops)
    out.update({
        "constraints.suite.run_s": (span_total("constraints.suite.run_suite"), "s"),
        "operators.entropy.score_s": (span_total("operators.entropy.score_entropy_pandas"), "s"),
        "sources.open_s": (span_total("sources.open"), "s"),
        "validate.write_s": (write_s, "s"),
        "plans.checkpoint.commit_s": (span_total("plans.checkpoint.commit"), "s"),
        "trace.wall_s": (traced.wall_s, "s"),
        "trace.untraced_wall_s": (untraced_wall, "s"),
        "trace.overhead_frac": (traced.wall_s / untraced_wall - 1.0, "ratio"),
        "trace.span_cost_frac": (len(spans) * span_cost / traced.wall_s, "ratio"),
        "trace.uncovered_frac": (1.0 - covered / traced.wall_s, "ratio"),
        "trace.spans": (len(spans), "count"),
        "host.cpu_probe_s": (probe_s, "s"),
    })
    self_by_name: dict[str, float] = {}
    for s in spans:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + self_t[s["id"]]
    return out, self_by_name, layers


def run(args, log) -> dict:
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    from spans import NullTracer, Tracer

    from workloads import WORKLOADS

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    settings = host_settings(run_dir)
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR
    workload = WORKLOADS[args.workload]()
    spark = Spark(run_dir)
    try:
        # set-up sample 1 is the cold one (JVM launch); the seeded inputs are
        # made on that first session, outside the timed parts
        event_log = os.path.join(run_dir, "eventlog")
        t0 = time.time()
        session = spark.start()
        cold = time.time() - t0
        workload.inputs(session, args.seed, os.path.join(WORK, "corpus"),
                        os.path.join(run_dir, "out"))
        setup = []
        for i in range(SETUP_REPEATS):
            t0 = time.time()
            if i:
                last_traced = args.trace and i == SETUP_REPEATS - 1
                session = spark.start(event_log if last_traced else None)
            spark.warm_up()
            workload.open(session)
            setup.append(time.time() - t0 + (cold if i == 0 else 0.0))

        if not args.trace:
            with PeakRss() as rss:
                passes, attempted, failed = measure(
                    workload, session, args.seconds, NullTracer(), log)
            metrics = end_to_end(passes, setup, rss.peak)
            diag = {"passes": len(passes), "setup_samples_s": setup,
                    "ops_s": [p.ops for p in passes],
                    "cpu_probe_s": spark.cpu_probe_s()}
        else:
            tracer = Tracer(session)
            tracer.install()
            try:
                traced = workload.run_pass(session, tracer)
            finally:
                tracer.uninstall()
            failed = workload.check(traced, log)
            span_cost = tracer.span_cost_s()
            probe = spark.cpu_probe_s()
            spark.start()  # stops the traced session: flushes the event log
            workload.open(spark.session)
            plain = workload.run_pass(spark.session, NullTracer())
            failed += workload.check(plain, log)
            attempted = len(traced.ops) + len(plain.ops)
            metrics, self_by_name, layers = per_layer(
                tracer, event_log, traced, plain.wall_s, span_cost, probe)
            trace_path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
            tracer.dump(trace_path, {
                "workload": args.workload, "seed": args.seed,
                "self_s_by_span_name": self_by_name, "layers": layers,
                "metrics": {k: v for k, (v, _) in metrics.items()},
            })
            diag = {"spans_file": os.path.relpath(trace_path)}
    finally:
        spark.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        eq_dir = os.path.join(os.getcwd(), ".suite_corpus", f"run-{os.getpid()}")
        shutil.rmtree(eq_dir, ignore_errors=True)

    log(json.dumps({"workload": args.workload, "seed": args.seed,
                    "host_settings": settings, "failed_ops": failed,
                    "failed_frac": len(failed) / attempted, **diag}))
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["suite_scan", "detectors", "validate_cli"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2

    def log(msg: str) -> None:
        print(msg, flush=True)

    result = run(args, log)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
