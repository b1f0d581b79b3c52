"""Per-job wall-time profile of bench queries (guide §1.1/§1.5).

Runs each named query (default: the bench tier-1+tier-2 set) once for
warm-up and once timed to the noop sink, with the Spark event log
enabled and `spark.sparkContext.setJobDescription(<query>)` labelling
every job. Afterwards parses the event log and prints, per query: the
number of Spark jobs it launched, each job's wall ms, and the summed
job wall vs the end-to-end wall (the gap is driver-side work: planning,
py4j round-trips, footer reads, os.walk asserts, ...).

Usage:
    python scripts/profile_queries.py [query ...]

This is measurement tooling only — it never runs in the driver bench
path and changes no query semantics.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVENT_DIR = "/tmp/ddw-profile-events"


def _enable_event_log() -> None:
    """Event-log confs for the JVM get_spark launches, passed the way
    perfbench/run.py passes them (get_spark takes no extra confs)."""
    os.makedirs(EVENT_DIR, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{EVENT_DIR}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from bench import HEADLINE, HEADLINE_T2
    from demo_data_warehouse_spark.session import get_spark

    names = sys.argv[1:] or (HEADLINE + HEADLINE_T2)
    qs = entry_mod.queries()
    _enable_event_log()
    spark = get_spark("ddw-profile")
    sc = spark.sparkContext

    def run(n):
        qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()

    walls = {}
    for n in names:
        sc.setJobDescription(f"warmup:{n}")
        run(n)
    for n in names:
        sc.setJobDescription(f"timed:{n}")
        t0 = time.time()
        run(n)
        walls[n] = time.time() - t0
    sc.setJobDescription(None)
    app_id = sc.applicationId
    spark.stop()  # flush the event log

    # -- parse the event log (Spark 4 writes a rolling-log DIRECTORY
    # eventlog_v2_<appId>/ holding events_* files) ---------------------------
    paths = sorted(
        glob.glob(os.path.join(EVENT_DIR, f"*{app_id}*", "events_*"))
    ) or glob.glob(os.path.join(EVENT_DIR, f"{app_id}*"))
    assert paths, f"no event log for {app_id} in {EVENT_DIR}"
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    lines = []
    for p in paths:
        with open(p) as f:
            lines.extend(f)
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )
                jobs[ev["Job ID"]] = {
                    "desc": desc,
                    "start": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si.get("Stage ID", si.get("Stage Id"))
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", ""),
                    "tasks": si.get("Number of Tasks"),
                    "ms": (comp - sub) if (sub and comp) else -1,
                    "details": (si.get("Details") or "").split("\n")[0],
                }

    for n in names:
        tagged = [
            j for j in jobs.values() if j["desc"] == f"timed:{n}" and "end" in j
        ]
        tagged.sort(key=lambda j: j["start"])
        job_ms = [(j["end"] - j["start"]) for j in tagged]
        print(f"\n== {n}: wall {walls[n]:.3f}s, {len(tagged)} jobs, "
              f"sum(job walls) {sum(job_ms)/1000:.3f}s, "
              f"driver gap {walls[n] - sum(job_ms)/1000:.3f}s")
        for j, ms in zip(tagged, job_ms):
            sinfo = []
            for sid in sorted(j["stages"]):
                s = stages.get(sid)
                if s:
                    nm = s["name"].split("\n")[0][:40]
                    sinfo.append(f"s{sid}:{nm}({s['tasks']}t,{s['ms']}ms)")
            print(f"   {ms:6d} ms  {'; '.join(sinfo)[:260]}")


if __name__ == "__main__":
    main()
