"""Per-layer metrics of a traced run, from spans, the event log and the
streaming listener. Each metric is a per-pass total; the reported value
is its median over the traced passes."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from spans import OPERATOR_MODULES, read_event_log, self_times, union_s

ENGINE = {
    "engine.tasks": "tasks", "engine.executor_run_s": "run_s",
    "engine.executor_cpu_s": "cpu_s", "engine.gc_s": "gc_s",
    "engine.input_bytes": "input_bytes", "engine.scan_stage_s": "scan_stage_s",
    "engine.shuffle_write_bytes": "shuffle_write_bytes",
    "engine.shuffle_read_bytes": "shuffle_read_bytes",
    "engine.shuffle_fetch_wait_s": "fetch_wait_s", "engine.spill_bytes": "spill_bytes",
    "engine.python_stage_s": "python_stage_s",
}
OP_RECORD = ("io.files_written", "io.bytes_written", "cache.live_frames", "cache.mem_bytes")
PASS_RECORD = ("io.tmp_bytes_left", "io.stored_per_input_byte")
STREAMING = ("streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
             "streaming.state_rows")
UNITS = {"_s": "s", "_ms": "ms", "_byte": "ratio"}


def _unit(name: str) -> str:
    if "bytes" in name:
        return "B"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix) or name.endswith("." + suffix[1:]):
            return unit
    return "count"


# spans of the package modules (queries.build times the query module's
# registered callable); queries.action is the runner's own span around the
# sink write, so it names no layer
MODULE_LAYERS = ("catalog.", "operators.", "io.", "lark.", "queries.build")
COVERAGE_TOLERANCE = 0.10


def _within(t: float, spans: list[dict]) -> bool:
    return any(s["start"] <= t <= s["end"] for s in spans)


def op_layers(rec: dict, spans: list[dict], selfs: list[float], jobs: list[dict],
              executions: list[tuple[float, float]],
              batches: list[tuple[float, dict]]) -> dict[str, float]:
    """Layer metrics of one op."""
    m: dict[str, float] = defaultdict(float)
    lo, hi = rec["start"], rec["end"]
    intervals = [(j["start"], j["end"]) for j in jobs]
    engine_s = union_s(intervals, lo, hi)
    m["engine.jobs"] = len(jobs)
    m["engine.job_s"] = engine_s
    m["driver.gap_s"] = rec["wall"] - engine_s
    for name, key in ENGINE.items():
        m[name] = sum(j[key] for j in jobs)
    builds = [s for s in spans if s["name"] == "queries.build"]
    merges = [s for s in spans if s["name"] == "io.merge"]
    m["queries.build_jobs"] = sum(_within(j["start"], builds) for j in jobs)
    m["io.merge_jobs"] = sum(_within(j["start"], merges) for j in jobs)
    names = {s["idx"]: s["name"] for s in spans}
    ticked = any(s["name"] == "lark.tick" for s in spans)
    for s, self_s in zip(spans, selfs):
        dur = s["end"] - s["start"]
        layer = s["name"]
        m[f"self.{layer}"] += self_s
        top = s["parent"] is None or names.get(s["parent"]) != layer
        if layer in ("queries.build", "queries.action"):
            m[f"{layer}_s"] += dur
        elif layer == "catalog.table" and top:
            m["catalog.table_calls"] += 1
            m["catalog.table_s"] += dur
        elif layer.startswith("operators.") and top:
            m[f"{layer}.calls"] += 1
            m[f"{layer}.s"] += dur
        elif layer in ("io.write", "io.merge") and top:
            m[f"{layer}_calls"] += 1
            m[f"{layer}_s"] += dur
        elif layer == "io.compact" and top:
            m["io.compact_s"] += dur
        elif layer == "lark.tick":
            m["lark.tick_s"] += dur
        elif layer == "lark.bronze":
            m["lark.bronze_s"] += dur
        if ticked and layer in ("io.write", "io.merge"):
            db, table = s.get("db", ""), s.get("table", "")
            if db == "bronze":
                m["lark.bronze_s"] += dur
            elif db == "silver" and table.startswith("dim_"):
                m["lark.dim_merge_s"] += dur
            elif db == "silver":
                m["lark.fact_write_s"] += dur
            elif db == "gold":
                m["lark.gold_s"] += dur
    for t, vals in batches:
        if lo <= t <= hi:
            for k, v in vals.items():
                m[k] += v
    for k in OP_RECORD:
        m[k] = rec.get(k, 0)
    # the op's wall that lies inside an engine interval (a job or a SQL
    # execution; ops run one at a time, so clipping to the op's window
    # attributes executions) or a module span; the rest is driver time
    # (part of driver.gap_s) that no layer accounts for
    named = [(s["start"], s["end"]) for s in spans if s["name"].startswith(MODULE_LAYERS)]
    covered = union_s(intervals + executions + named, lo, hi)
    m["driver.unnamed_s"] = rec["wall"] - covered
    m["coverage"] = covered / rec["wall"] if rec["wall"] > 0 else 1.0
    return m


def report(run, setup: dict) -> dict:
    tracer = run.tracer
    all_spans = tracer.spans
    selfs_all = self_times(all_spans)
    by_op_spans: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(all_spans):
        s["idx"] = i
        by_op_spans[s["op"]].append(i)
    jobs, executions = read_event_log(os.path.join(run.scratch, "eventlog"))
    batches = run.listener.batches

    per_pass: list[dict[str, float]] = []
    table = []
    worst = 0.0
    for p in run.passes:
        tot: dict[str, float] = defaultdict(float)
        for rec in p["ops"]:
            idx = by_op_spans.get(rec["op"], [])
            spans = [all_spans[i] for i in idx]
            m = op_layers(rec, spans, [selfs_all[i] for i in idx], jobs.get(rec["op"], []),
                          executions, batches)
            err = 1.0 - m["coverage"]
            worst = max(worst, err)
            if err > COVERAGE_TOLERANCE:
                run.failed += 1
                run.errors.append(f"coverage {rec['op']}: layers account for "
                                  f"{m['coverage']:.1%} of the wall")
            table.append((rec, m))
            for k, v in m.items():
                tot[k] += v
        for k in PASS_RECORD:
            tot[k] = p.get(k, 0.0)
        per_pass.append(tot)

    print_table(table)
    os.makedirs(run.out_dir, exist_ok=True)
    tracer.dump(os.path.join(run.out_dir, f"spans-{run.workload}-seed{run.args.seed}.json"))

    names = (
        ["engine.jobs", "engine.job_s", *ENGINE, "driver.gap_s",
         "queries.build_s", "queries.build_jobs", "queries.action_s",
         "catalog.table_calls", "catalog.table_s",
         *[f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("calls", "s")],
         "io.write_calls", "io.write_s", "io.merge_calls", "io.merge_s", "io.merge_jobs",
         "io.compact_s", *OP_RECORD, *PASS_RECORD,
         "lark.tick_s", "lark.bronze_s", "lark.dim_merge_s", "lark.fact_write_s", "lark.gold_s",
         *STREAMING]
    )
    out = {k: (statistics.median(p.get(k, 0.0) for p in per_pass), _unit(k)) for k in names}
    out["pass_s"] = (statistics.median(p["wall"] for p in run.passes), "s")
    out.update(run.op_latency())
    out["session.create_s"] = (setup["session.create_s"], "s")
    out["session.warmup_s"] = (setup["session.warmup_s"], "s")
    out["trace.coverage_err"] = (worst, "ratio")
    # overhead: this run's first pass against the first passes of the
    # untraced runs recorded in this checkout (same set-up, same order of work)
    traced_s = run.passes[0]["wall"]
    try:
        with open(os.path.join(run.out_dir, f"untraced-{run.workload}.jsonl")) as f:
            untraced_s = statistics.median(json.loads(line)["pass0_s"] for line in f)
        overhead = traced_s / untraced_s - 1.0
    except (OSError, ValueError, statistics.StatisticsError):
        untraced_s = overhead = None
    print(json.dumps({"trace": {"traced_pass0_s": traced_s, "untraced_pass0_s": untraced_s,
                                "overhead_frac": overhead, "coverage_worst_err": worst,
                                "coverage_ok": worst <= COVERAGE_TOLERANCE}}))
    return out


def print_table(table) -> None:
    """Per-op layer table: wall, engine time, driver gap and the top self times."""
    print(f"{'op':40s} {'wall':>7s} {'engine':>7s} {'gap':>7s} {'unnamed':>7s} {'cover':>6s} "
          f"{'jobs':>5s}  self-time by layer")
    for rec, m in table:
        selfs = sorted(((k[5:], v) for k, v in m.items() if k.startswith("self.")),
                       key=lambda kv: -kv[1])
        top = "  ".join(f"{k}={v:.3f}" for k, v in selfs[:4])
        print(f"{rec['op'][:40]:40s} {rec['wall']:7.3f} {m['engine.job_s']:7.3f} "
              f"{m['driver.gap_s']:7.3f} {m['driver.unnamed_s']:7.3f} {m['coverage']:6.1%} "
              f"{int(m['engine.jobs']):5d}  {top}")
