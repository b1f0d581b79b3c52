"""Tracing for the benchmark's traced run (`--trace 1`).

Everything here observes the engine from outside:

- `Tracer` keeps spans (name, start, end, parent, op id, attrs) in memory
  and writes them out once at the end.
- `instrument` wraps the public functions of the engine modules (catalog,
  operators, io, lark) so each call records a span. It must run before the query
  registry is imported, because query modules bind `catalog.table` and
  operator functions at import time.
- `read_event_log` parses Spark's JSON event log into per-job records
  (interval, tasks, executor and shuffle metrics) keyed by the op id that
  the runner sets as a local property on every job, and into the
  intervals of the SQL executions (driver-side engine work: planning
  inside an execution, adaptive re-planning between jobs, commits).
- `StreamProgress` is a StreamingQueryListener that sums micro-batch
  progress (batches, trigger and addBatch durations, state rows).
"""

from __future__ import annotations

import datetime
import functools
import glob
import importlib
import inspect
import json
import time
import types
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

OP_PROPERTY = "perfbench.op"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"

# module -> layer name; io and lark wrap methods, the rest wrap public functions
OPERATOR_MODULES = ("dedup", "similarity", "text", "ml", "graph", "merge", "mv", "bloom_index")
IO_METHODS = {
    "write_partition_replace": "io.write",
    "write_bucketed": "io.write",
    "write_clustered": "io.write",
    "write_zordered": "io.write",
    "merge_write": "io.merge",
    "compact": "io.compact",
}
LARK_METHODS = {"run": "lark.tick", "build_bronze": "lark.bronze"}


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def begin(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.time(), "end": None, "parent": parent,
             "op": self.op, **attrs}
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        idx = self.begin(name, **_span_attrs(args))
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def abort(self) -> None:
        """Close the spans an exception left open."""
        now = time.time()
        for idx in self._stack:
            self.spans[idx]["end"] = now
        self._stack.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _span_attrs(args) -> dict:
    # Warehouse methods take (self, df?, db, table, ...): label with (db, table)
    strs = [a for a in args[1:4] if isinstance(a, str)]
    return {"db": strs[0], "table": strs[1]} if len(strs) >= 2 else {}


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        return tracer.call(name, fn, *args, **kwargs)

    return wrapped


def _wrap_public(tracer: Tracer, mod, layer: str) -> None:
    for attr, obj in list(vars(mod).items()):
        if attr.startswith("_"):
            continue
        if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
            setattr(mod, attr, _wrap(tracer, layer, obj))
        elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
            for m, fn in list(vars(obj).items()):
                if not m.startswith("_") and isinstance(fn, types.FunctionType):
                    setattr(obj, m, _wrap(tracer, layer, fn))


def instrument(tracer: Tracer) -> None:
    """Install span wrappers on every layer the traced run reports."""
    pkg = "demo_data_warehouse_spark"
    catalog = importlib.import_module(f"{pkg}.catalog")
    catalog.table = _wrap(tracer, "catalog.table", catalog.table)
    for m in OPERATOR_MODULES:
        _wrap_public(tracer, importlib.import_module(f"{pkg}.operators.{m}"), f"operators.{m}")
    wh = importlib.import_module(f"{pkg}.io").Warehouse
    for m, layer in IO_METHODS.items():
        setattr(wh, m, _wrap(tracer, layer, getattr(wh, m)))
    pipe = importlib.import_module(f"{pkg}.lark.pipeline").LarkPipeline
    for m, layer in LARK_METHODS.items():
        setattr(pipe, m, _wrap(tracer, layer, getattr(pipe, m)))


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its direct children cover."""
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


# -- Spark event log --------------------------------------------------------

_PY_SCOPES = ("EvalPython", "InPandas", "InArrow", "ArrowPython", "PythonUDF", "FlatMapCoGroups")


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        names.add(rdd.get("Name", ""))
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def read_event_log(log_dir: str) -> tuple[dict[str, list[dict]], list[tuple[float, float]]]:
    """Per-op job records and the (start, end) of every SQL execution,
    parsed from every event log in log_dir."""
    jobs: dict[int, dict] = {}
    sql_start: dict[tuple[str, int], float] = {}
    executions: list[tuple[float, float]] = []
    stage_job: dict[tuple[str, int], int] = {}
    stage_kind: dict[tuple[str, int], tuple[bool, bool]] = {}
    task_rows: list[tuple[str, int, dict]] = []
    key = 0
    for path in sorted(glob.glob(f"{log_dir}/*")):
        app = path
        local: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key += 1
                    local[ev["Job ID"]] = key
                    jobs[key] = {
                        "op": props.get(OP_PROPERTY),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "input_bytes": 0, "shuffle_write_bytes": 0,
                        "shuffle_read_bytes": 0, "fetch_wait_s": 0.0,
                        "spill_bytes": 0, "scan_stage_s": 0.0, "python_stage_s": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((app, sid), key)
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(local.get(ev["Job ID"], -1))
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    names = _scope_names(info)
                    is_scan = any(n == "FileScanRDD" or n.startswith("Scan") for n in names)
                    is_py = any(p in n for n in names for p in _PY_SCOPES)
                    stage_kind[(app, info["Stage ID"])] = (is_scan, is_py)
                elif kind == _SQL_START:
                    sql_start[(app, ev["executionId"])] = ev["time"] / 1000.0
                elif kind == _SQL_END and (app, ev["executionId"]) in sql_start:
                    executions.append((sql_start[(app, ev["executionId"])], ev["time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if m:
                        task_rows.append((app, ev["Stage ID"], m))
    for app, sid, m in task_rows:
        j = jobs.get(stage_job.get((app, sid), -1))
        if j is None:
            continue
        run_s = m.get("Executor Run Time", 0) / 1000.0
        sr = m.get("Shuffle Read Metrics", {})
        is_scan, is_py = stage_kind.get((app, sid), (False, False))
        j["tasks"] += 1
        j["run_s"] += run_s
        j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        j["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        j["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        j["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
        j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        j["scan_stage_s"] += run_s if is_scan else 0.0
        j["python_stage_s"] += run_s if is_py else 0.0
    by_op: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        if j["op"] is not None and j["end"] is not None:
            by_op[j["op"]].append(j)
    return by_op, executions


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


# -- streaming progress -----------------------------------------------------


class StreamProgress(StreamingQueryListener):
    """Keeps one record per micro-batch; the runner assigns each to the op
    whose window holds the batch's trigger time."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, dict[str, float]]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        t = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.batches.append((t, {
            "streaming.batches": 1,
            "streaming.trigger_ms": p.durationMs.get("triggerExecution", 0),
            "streaming.add_batch_ms": p.durationMs.get("addBatch", 0),
            "streaming.state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
