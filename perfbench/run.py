"""Repository benchmark: one command runs a named workload and checks it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. Load model: one process, a closed loop
with one client, ops run one after another on a local Spark session with
one task slot per core. Per run:

1. Inputs. The warehouse tables (scale factor 0.01) are generated once
   per checkout into perfbench/.cache (seed-independent); the seed
   permutes the op order of every pass and drives the Lark landing
   generator of `etl_write`.
2. Set-up, three times: create the engine's session (`get_spark`) and run
   a warm-up probe (a shuffle aggregation, a parquet scan through the
   engine's catalog, and a pandas UDF that starts the Python workers).
   `setup_s` is the median; the first set-up also launches the JVM.
3. Timed passes until `--seconds` have elapsed (at least one). Each op
   clears Spark's cache, builds its frame and runs it to a noop sink.
   Disk writes are summed over the ops' own windows, and the peak RSS is
   read when a pass's last op ends.
4. Checks, untimed, after the last pass is measured: each registry op's
   output frame of that pass is compared with its DuckDB oracle
   (engine-side digest, or a collected compare for outputs with float
   columns); `etl_write` checks its SCD2 invariants, the planted row
   counts, and that replaying the last partition left every table's
   order-insensitive hash unchanged (against a copy of the warehouse
   taken just before the replay).

All scratch (TMPDIR, SPARK_LOCAL_DIRS, java.io.tmpdir, warehouse roots,
stream checkpoints) lives in one per-run directory that is removed at
exit. The last stdout line is the JSON result; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
DATA_VERSION = "v2"

SETUPS = 3
ETL_PARTITIONS = 2
MAX_RUN_S = 150  # stop starting passes past this, to end well inside 180 s

# registry ops per workload; etl_write also runs the Lark ticks and a replay
WORKLOADS = {
    "corpus_curation": [
        "dedup_minhash", "dedup_embed_lsh", "ann_cosine_topk", "text_quality",
        "text_tfidf", "ml_dbscan", "corpus_curate_mix", "text_inverted_index",
    ],
    "etl_write": [
        "stream_merge_upsert", "stream_partition_replace", "maintenance_compact",
        "maintenance_mv_rewrite", "scan_bloom_index",
    ],
}

ETL_TABLES = [
    ("bronze", "lark_employee"), ("bronze", "lark_vendor"), ("bronze", "lark_attendance"),
    ("bronze", "lark_attendance_record"), ("bronze", "lark_payment"),
    ("silver", "dim_employee"), ("silver", "dim_vendor"), ("silver", "fact_attendance"),
    ("silver", "fact_attendance_record"), ("silver", "fact_payment"),
    ("gold", "cube_attendance_report"),
]
DIM_KEYS = {"dim_employee": "user_id", "dim_vendor": "vendor_id"}


# -- process tree accounting (/proc; psutil is not installed) ---------------


def _tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _proc_field(pid: int, fname: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{fname}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def tree_hwm_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over the process tree."""
    return sum(_proc_field(p, "status", "VmHWM:") for p in _tree_pids()) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of the process tree, counting exited
    children through their parents' cutime/cstime. Time the hypervisor
    steals from the guest is not charged to any process."""
    ticks = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_write_bytes() -> dict[int, int]:
    return {p: _proc_field(p, "io", "write_bytes:") for p in _tree_pids()}


def written_since(before: dict[int, int]) -> int:
    return sum(v - before.get(p, 0) for p, v in tree_write_bytes().items())


def table_rows(root: str, db: str, table: str) -> list[dict]:
    """Rows of a warehouse table: every visible parquet file under its
    directory, with hive partition values (as strings) from the path."""
    import pyarrow.parquet as pq

    rows = []
    for d, dirs, files in os.walk(os.path.join(root, db, table)):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        part = dict(seg.split("=", 1) for seg in os.path.relpath(d, root).split(os.sep) if "=" in seg)
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                rows += [{**r, **part} for r in pq.read_table(os.path.join(d, f)).to_pylist()]
    return rows


def table_hash(rows: list[dict]) -> tuple[int, int]:
    """(rows, order-insensitive hash); the publish timestamp is left out."""
    h = 0
    for r in rows:
        canon = repr(sorted((k, repr(v)) for k, v in r.items()
                            if k != "etl_inserted" and v is not None))
        h += int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "little")
    return len(rows), h % 2**64


def file_state(path: str) -> dict[str, tuple[int, float]]:
    """(size, mtime) of every file under path."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime)
    return out


def du(path: str) -> int:
    """Bytes under path."""
    return sum(size for size, _ in file_state(path).values())


# -- inputs -----------------------------------------------------------------


def warehouse_dir() -> str:
    import datagen

    d = os.path.join(CACHE, f"warehouse-sf0.01-{DATA_VERSION}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        datagen.make_warehouse(tmp)
        try:
            os.rename(tmp, d)
        except OSError:  # a concurrent run won the race
            shutil.rmtree(tmp, ignore_errors=True)
    return d


# -- the run ----------------------------------------------------------------


class Run:
    def __init__(self, args, scratch: str):
        self.args = args
        self.workload = args.workload
        self.ops = WORKLOADS[args.workload]
        self.scratch = scratch
        self.tmp = os.path.join(scratch, "tmp")
        self.etl_dir = os.path.join(scratch, "etl")  # one fresh warehouse per pass
        self.snap_dir = os.path.join(scratch, "snap")  # pre-replay copies
        self.out_dir = OUT  # spans and untraced pass records, kept across runs
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.spark = None
        self.con = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_seq = 0
        self.passes: list[dict] = []

    # -- environment ---------------------------------------------------------

    def configure_env(self) -> None:
        for d in ("tmp", "etl", "snap", "spark", "java", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.scratch, d), exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.scratch, "spark")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.path.join(self.scratch, 'java')} -XX:-UsePerfData"
        )
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, os.environ.get("PYTHONPATH", "")]
        ).rstrip(os.pathsep)
        # the engine's session factory reads these; pin them so the host
        # environment cannot change the measured configuration
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
        os.environ["DDW_DRIVER_MEMORY"] = "1g"
        for k in ("DDW_ADVERSARIAL", "DDW_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR"):
            os.environ.pop(k, None)
        confs = {
            # initial heap = max heap: the JVM's resident size then follows the
            # heap limit rather than GC timing, which keeps peak_rss_mb steady
            "spark.driver.extraJavaOptions": "-Xms1g",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.scratch, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {k}={v}" for k, v in confs.items()
        ) + " pyspark-shell"

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> dict:
        from demo_data_warehouse_spark.session import get_spark
        from pyspark.sql import SparkSession

        create, warm = [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                SparkSession._instantiatedSession = None
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.workload}")
            t1 = time.perf_counter()
            self.warmup()
            t2 = time.perf_counter()
            create.append(t1 - t0)
            warm.append(t2 - t1)
        self.spark.sparkContext.setLogLevel("ERROR")
        totals = [c + w for c, w in zip(create, warm)]
        print(json.dumps({"setups": {"create_s": create, "warmup_s": warm}}))
        return {
            "setup_s": statistics.median(totals),
            "session.create_s": statistics.median(create),
            "session.warmup_s": statistics.median(warm),
        }

    def warmup(self) -> None:
        from demo_data_warehouse_spark.catalog import table
        from pyspark.sql import functions as F

        spark = self.spark
        spark.range(100_000).select((F.col("id") % 97).alias("k")).groupBy("k").count().collect()
        table(spark, self.data, "region").count()
        # start the Python workers, so no op of the pass pays for them
        plus_one = F.pandas_udf(lambda s: s + 1, "long")
        spark.range(0, 4_000, numPartitions=4).select(F.sum(plus_one("id"))).collect()

    # -- ops ---------------------------------------------------------------------

    def pass_plan(self) -> list[tuple[str, str]]:
        """(kind, arg) per op, in this pass's seeded order."""
        ops = list(self.ops)
        self.rng.shuffle(ops)
        plan = [("query", n) for n in ops]
        if self.workload == "etl_write":
            parts = self.partitions
            plan = [("tick", p) for p in parts] + [("replay", parts[-1])] + plan
        return plan

    def run_op(self, kind: str, arg: str, state: dict) -> dict | None:
        """Run one op; return its timing record, or None if it raised."""
        self.op_seq += 1
        op_id = f"{self.op_seq}:{kind}:{arg}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobDescription(op_id)
            sc.setLocalProperty("perfbench.op", op_id)
            self.tracer.op = op_id
            before_files = self.written_files()
        w0, c0 = tree_write_bytes(), tree_cpu_s()
        self.spark.catalog.clearCache()
        t0 = time.time()
        try:
            if kind == "query":
                root = self.tracer.begin("queries.build") if self.trace else None
                df = self.queries[arg](self.spark, self.data)
                if root is not None:
                    self.tracer.end(root)
                    root = self.tracer.begin("queries.action")
                df.write.format("noop").mode("overwrite").save()
                if root is not None:
                    self.tracer.end(root)
                state["frames"].append((arg, df))
            else:
                state["pipe"].run(arg)
        except Exception:
            self.errors.append(f"{op_id}: {traceback.format_exc(limit=3)}")
            self.tracer.abort()
            return None
        t1 = time.time()
        if self.trace:
            sc.setLocalProperty("perfbench.op", None)
        rec = {"op": op_id, "start": t0, "end": t1, "wall": t1 - t0,
               "cpu_s": tree_cpu_s() - c0, "write_bytes": written_since(w0)}
        if self.trace:
            after = self.written_files()
            changed = [p for p, v in after.items() if before_files.get(p) != v]
            rec["io.files_written"] = len(changed)
            rec["io.bytes_written"] = sum(after[p][0] for p in changed)
            jsc = sc._jsc
            rec["cache.live_frames"] = jsc.getPersistentRDDs().size()
            rec["cache.mem_bytes"] = sum(i.memSize() for i in jsc.sc().getRDDStorageInfo())
        return rec

    # -- passes ----------------------------------------------------------------

    def written_files(self) -> dict[str, tuple[int, float]]:
        """Files the ops can write: query scratch dirs and ETL warehouses."""
        return {**file_state(self.tmp), **file_state(self.etl_dir)}

    def new_etl_state(self, i: int) -> dict:
        from demo_data_warehouse_spark.io import Warehouse
        from demo_data_warehouse_spark.lark.notify import CollectingNotifier
        from demo_data_warehouse_spark.lark.pipeline import LarkPipeline

        root = os.path.join(self.etl_dir, f"wh_{i}")
        wh = Warehouse(self.spark, root)
        return {"root": root,
                "pipe": LarkPipeline(self.spark, wh, self.landing, notifier=CollectingNotifier())}

    def timed_pass(self, i: int) -> tuple[dict, dict]:
        """Run one pass; return its record and what its checks need."""
        entries = set(os.listdir(self.tmp))
        state = self.new_etl_state(i) if self.workload == "etl_write" else {}
        state["frames"] = []
        recs = []
        for kind, arg in self.pass_plan():
            if kind == "replay":  # untimed, between ops
                state["pre_replay"] = os.path.join(self.snap_dir, f"wh_{i}")
                shutil.copytree(state["root"], state["pre_replay"])
            self.attempted += 1
            rec = self.run_op(kind, arg, state)
            if rec is None:
                self.failed += 1
            else:
                recs.append(rec)
        p = {"wall": sum(r["wall"] for r in recs), "ops": recs,
             "cpu_s": sum(r["cpu_s"] for r in recs),
             "disk_write_mb": sum(r["write_bytes"] for r in recs) / 1e6,
             "peak_rss_mb": tree_hwm_mb()}
        if "root" in state:
            p["io.stored_per_input_byte"] = du(state["root"]) / du(self.landing)
        # what the ops leave behind in the scratch temp dir
        state["tmp_left"] = [os.path.join(self.tmp, e)
                             for e in os.listdir(self.tmp) if e not in entries]
        p["io.tmp_bytes_left"] = sum(du(d) for d in state["tmp_left"])
        return p, state

    def end_pass(self, state: dict) -> None:
        for d in [state.get("root"), state.get("pre_replay"), *state["tmp_left"]]:
            if d:
                shutil.rmtree(d, ignore_errors=True)

    # -- correctness -----------------------------------------------------------

    def verify(self, state: dict) -> None:
        """Untimed checks of one measured pass."""
        from scripts.check_correctness import duck_con

        self.con = duck_con(self.data)
        for name, sdf in state["frames"]:
            self.check_query(name, sdf)
        if "pre_replay" in state:
            self.check_etl(state)

    def check_query(self, name: str, sdf) -> None:
        """Untimed: compare an op's output frame with its DuckDB oracle
        (engine-side digest; a collected compare for float columns)."""
        from scripts.check_correctness import compare, digest_compare

        self.attempted += 1
        try:
            problems = digest_compare(sdf, self.con, self.oracles[name])
            if problems and problems[0].startswith("digest mode needs"):
                odf = self.con.execute(self.oracles[name]).fetchdf()
                problems = compare(name, sdf.toPandas(), odf)
        except Exception as e:
            problems = [f"{type(e).__name__}: {str(e)[:300]}"]
        if problems:
            self.failed += 1
            self.errors.append(f"check {name}: {problems}")

    def check_etl(self, state: dict) -> None:
        """SCD2 and replay invariants of one ETL pass, read from the
        warehouse files with pyarrow (no engine code on the checking side)."""
        problems = []
        self.attempted += 1
        try:
            before = {t: table_hash(table_rows(state["pre_replay"], *t)) for t in ETL_TABLES}
            after = {t: table_hash(table_rows(state["root"], *t)) for t in ETL_TABLES}
            problems += [f"replay changed {t}" for t in ETL_TABLES if before[t] != after[t]]
            for dim, key in DIM_KEYS.items():
                cur = [r[key] for r in table_rows(state["root"], "silver", dim) if r["is_current"]]
                worst = max(Counter(cur).values(), default=0)
                if worst != 1:
                    problems.append(f"{dim}: {worst} current rows for one key")
                got = (after[("silver", dim)][0], len(cur))
                want = (self.expected[dim], self.expected[f"{dim}_current"])
                if got != want:
                    problems.append(f"{dim}: (rows, current) {got} != planted {want}")
            for db, t in [("silver", "fact_attendance"), ("silver", "fact_attendance_record"),
                          ("silver", "fact_payment"), ("gold", "cube_attendance_report"),
                          ("bronze", "lark_employee")]:
                if after[(db, t)][0] != self.expected[t]:
                    problems.append(f"{t}: {after[(db, t)][0]} rows != planted {self.expected[t]}")
        except Exception as e:
            problems.append(f"{type(e).__name__}: {str(e)[:300]}")
        if problems:
            self.failed += 1
            self.errors.append(f"check etl: {problems}")

    # -- main loop -------------------------------------------------------------

    def execute(self) -> None:
        t_start = time.time()
        self.configure_env()
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        import datagen

        self.data = warehouse_dir()
        if self.workload == "etl_write":
            self.landing = os.path.join(self.scratch, "landing")
            self.partitions = datagen.partitions(ETL_PARTITIONS)
            self.expected = datagen.make_landing(self.landing, self.args.seed, k=ETL_PARTITIONS)

        from spans import StreamProgress, Tracer, instrument

        self.tracer = Tracer()
        if self.trace:
            instrument(self.tracer)  # before the registry imports bind catalog.table
        from demo_data_warehouse_spark import queries as q

        q.load_all()
        self.queries, self.oracles = q.QUERIES, q.ORACLES

        phases = {"inputs": time.time() - t_start}
        t_phase = time.time()
        setup = self.setup()
        phases["setup"] = time.time() - t_phase
        if self.trace:
            self.listener = StreamProgress()
            self.spark.streams.addListener(self.listener)
        import bench

        calib_pre = bench._calibrate(self.spark)

        t0 = time.time()
        i = 0
        self.tracer.on = self.trace
        while True:
            p, state = self.timed_pass(i)
            self.passes.append(p)
            i += 1
            last = time.time() - t0 >= self.args.seconds or time.time() - t_start > MAX_RUN_S
            if last:
                self.tracer.on = False
                phases["timed"] = time.time() - t0
                t_phase = time.time()
                self.verify(state)
                phases["checks"] = time.time() - t_phase
            self.end_pass(state)
            if last:
                break
        calib_post = bench._calibrate(self.spark)
        phases["total"] = time.time() - t_start
        # host-drift context for a later A/B, not a metric
        print(json.dumps({"calibration": {"pre": calib_pre, "post": calib_post},
                          "phases_s": {k: round(v, 2) for k, v in phases.items()},
                          "passes": [{r["op"]: round(r["wall"], 3) for r in p["ops"]}
                                     for p in self.passes]}))
        self.setup_stats = setup

    def report(self) -> dict:
        if not self.trace:
            return self.end_to_end(self.setup_stats)
        import layers

        return layers.report(self, self.setup_stats)

    def end_to_end(self, setup: dict) -> dict:
        # the traced run compares its first pass with these (tracing overhead)
        os.makedirs(self.out_dir, exist_ok=True)
        with open(os.path.join(self.out_dir, f"untraced-{self.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": self.args.seed, "pass0_s": self.passes[0]["wall"]}) + "\n")
        return {
            "setup_s": (setup["setup_s"], "s"),
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in self.passes), "s"),
            "peak_rss_mb": (max(p["peak_rss_mb"] for p in self.passes), "MB"),
            "disk_write_mb": (statistics.median(p["disk_write_mb"] for p in self.passes), "MB"),
        }

    def op_latency(self) -> dict:
        """Median op latency and the highest percentile with at least 10
        samples beyond it (p50 when a run has fewer than 20 ops)."""
        lat = sorted(r["wall"] for p in self.passes for r in p["ops"])
        n = len(lat)
        pct = max(50, int(100 * (1 - 10 / n)))
        print(json.dumps({"op_tail": {"percentile": pct, "samples": n}}))
        return {"op_p50_s": (statistics.median(lat), "s"),
                "op_tail_s": (lat[min(n - 1, n * pct // 100)], "s")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "demo_data_warehouse_spark")):
        print("perfbench: run from the repository root (demo_data_warehouse_spark/ not found)",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(HERE, ".run"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".run"))
    run = Run(args, scratch)
    try:
        run.execute()
        shutdown(run)
        metrics = run.report()
        for e in run.errors:
            print(f"error: {e}", file=sys.stderr)
    finally:
        shutdown(run)
        shutil.rmtree(scratch, ignore_errors=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def shutdown(run: Run) -> None:
    """Stop Spark and the JVM, then wait until no child process is left."""
    from pyspark import SparkContext

    if getattr(run, "con", None) is not None:
        run.con.close()
        run.con = None
    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(_tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for p in _tree_pids()[1:]:
        try:
            os.kill(p, 9)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
