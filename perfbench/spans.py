"""Spans for the traced run, and the Spark event log turned into layer metrics.

A span is (id, name, parent, start, end); every span of one benchmark
operation carries that operation's id. Spans are kept in memory and
written as JSON when the run ends. While a span is open its id is the
Spark job group of the driver thread, so every job, stage and task in the
event log can be attributed to the innermost span that launched it.

Wrappers are installed only by ``Tracer.install``: each public function of
the library's layer modules is replaced, in its defining module and in
every library namespace that imported it (e.g.
``constraints.suite.score_entropy_pandas``), by a function that opens a span
named ``<module>.<function>`` around the call. ``uninstall`` restores the
originals.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import sys
import time
from contextlib import contextmanager, nullcontext

PKG = "logdata_anomaly_miner_spark"
LAYER_PACKAGES = ("operators", "functions", "constraints", "sources", "plans")
# the packages a detector query is attributed to (sources/plans are I/O)
QUERY_LAYER_PACKAGES = ("operators", "functions", "constraints")
# exec nodes that cross the JVM/Python boundary (Arrow or pickled batches)
PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of output rows": "python.rows_out",
}


def layer_of(span_name: str) -> str:
    """Layer of a wrapped library call's span, e.g.
    ``functions.dedup.exact_dup_groups`` -> ``functions.dedup``; the
    constraint modules form one layer, ``constraints``."""
    parts = span_name.split(".")
    return "constraints" if parts[0] == "constraints" else ".".join(parts[:2])


class NullTracer:
    """Untraced runs: spans cost one context-manager call and record nothing."""

    def span(self, name: str, op: str | None = None):
        return nullcontext()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        # id(wrapper) -> (wrapper, wrapped); holding the wrapper keeps its id
        self._originals: dict[int, tuple] = {}

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._originals[id(traced)] = (traced, fn)
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib
        import pkgutil

        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from logdata_anomaly_miner_spark.plans.checkpoint import CheckpointManifest

        # queries import some layer functions at call time, so every layer
        # module must be loaded (and wrapped) before the first call
        importlib.import_module(f"{PKG}.engine_queries")
        for pkg in LAYER_PACKAGES:
            path = importlib.import_module(f"{PKG}.{pkg}").__path__
            for info in pkgutil.iter_modules(path):
                importlib.import_module(f"{PKG}.{pkg}.{info.name}")

        lib = {n: m for n, m in sys.modules.items() if n.startswith(PKG + ".") and m}
        wrapped = {}
        for mod_name, mod in lib.items():
            if mod_name.split(".")[1] not in LAYER_PACKAGES:
                continue
            for attr, obj in vars(mod).items():
                if (
                    callable(obj) and not attr.startswith("_")
                    and getattr(obj, "__module__", None) == mod_name
                    and not isinstance(obj, type)
                ):
                    short = mod_name[len(PKG) + 1:]
                    wrapped[id(obj)] = (obj, self._wrap(obj, f"{short}.{attr}"))
        # rebind every library namespace that holds one of the originals
        for mod in lib.values():
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped and wrapped[id(obj)][0] is obj:
                    self._patch(mod, attr, wrapped[id(obj)][1])
        self._patch(
            CheckpointManifest, "commit",
            self._wrap(CheckpointManifest.commit, "plans.checkpoint.commit"),
        )
        self._patch(DataFrameReader, "parquet",
                    self._wrap(DataFrameReader.parquet, "sources.open"))
        self._patch(DataFrameWriter, "parquet",
                    self._wrap(DataFrameWriter.parquet, "write"))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
        # a module first imported while tracing bound wrappers by name
        for name, mod in list(sys.modules.items()):
            if name.startswith(PKG) and mod:
                for attr, obj in list(vars(mod).items()):
                    wrapper, orig = self._originals.get(id(obj), (None, None))
                    if wrapper is obj:
                        setattr(mod, attr, orig)

    def span_cost_s(self, n: int = 200) -> float:
        """Measured driver cost of one span (its two job-group calls)."""
        t0 = time.time()
        for _ in range(n):
            with self.span("probe"):
                pass
        del self.spans[-n:]
        return (time.time() - t0) / n

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": sorted(self.spans, key=lambda s: s["id"])}, fh)


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------

def _union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_len(kids.get(s["id"], []))
        for s in spans
    }


def ancestors(spans: list[dict]) -> dict[int, list[int]]:
    """Span id -> ids of itself and every enclosing span."""
    parent = {s["id"]: s["parent"] for s in spans}
    out = {}
    for sid in parent:
        chain, cur = [], sid
        while cur is not None:
            chain.append(cur)
            cur = parent.get(cur)
        out[sid] = chain
    return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # a truncated last line
    return events


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def spark_metrics(events: list[dict], span_ids: set[int], window: tuple[float, float]):
    """Spark-side counters of the jobs launched under ``span_ids``.

    Returns (totals, per_span_jobs): totals holds the runtime metrics of
    the layer table; per_span_jobs maps span id -> its number of jobs."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_plans: dict[int, list] = {}
    exec_of_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not group.startswith("span-") or int(group[5:]) not in span_ids:
                continue
            jid = ev["Job ID"]
            jobs[jid] = {"span": int(group[5:]), "start": ev["Submission Time"] / 1e3,
                         "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                exec_of_job[jid] = int(eid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            exec_plans.setdefault(ev["executionId"], []).append(ev["sparkPlanInfo"])

    execs = set(exec_of_job.values())
    exchanges = 0
    py_acc: dict[int, str] = {}
    for eid in execs:
        plans = exec_plans.get(eid, [])
        if plans:  # the final (post-AQE) plan decides the Exchange count
            exchanges += sum(1 for n in _plan_nodes(plans[-1]) if n["nodeName"] == "Exchange")
        for plan in plans:
            for node in _plan_nodes(plan):
                if any(m in node["nodeName"] for m in PYTHON_NODE_MARKERS):
                    for m in node.get("metrics", []):
                        if m["name"] in PYTHON_METRICS:
                            py_acc[m["accumulatorId"]] = PYTHON_METRICS[m["name"]]

    t = dict.fromkeys(
        ["scan.input_bytes", "scan.input_rows", "exec.run_s", "exec.cpu_s",
         "exec.gc_s", "exec.spill_bytes", "shuffle.read_bytes",
         "shuffle.write_bytes", *PYTHON_METRICS.values()], 0.0,
    )
    stages, tasks = set(), 0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_job:
            continue
        stages.add(ev["Stage ID"])
        tasks += 1
        m = ev.get("Task Metrics") or {}
        inp = m.get("Input Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        t["scan.input_bytes"] += inp.get("Bytes Read", 0)
        t["scan.input_rows"] += inp.get("Records Read", 0)
        t["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        t["shuffle.read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
        t["shuffle.write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = py_acc.get(acc.get("ID"))
            if name:
                t[name] += float(acc.get("Update") or 0)

    lo, hi = window
    busy = _union_len(
        (max(j["start"], lo), min(j["end"] or hi, hi)) for j in jobs.values()
        if (j["end"] or hi) > lo and j["start"] < hi
    )
    t.update({
        "spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks,
        "shuffle.exchanges": exchanges, "driver.gap_s": (hi - lo) - busy,
    })
    per_span_jobs: dict[int, int] = {}
    for j in jobs.values():
        per_span_jobs[j["span"]] = per_span_jobs.get(j["span"], 0) + 1
    return t, per_span_jobs
