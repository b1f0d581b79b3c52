"""Warehouse sinks: partition-replace writer + emulated MERGE
(SURVEY §2.1 S3/S4, §2.9 ST4/ST5).

A Warehouse is a local parquet directory tree `root/{bronze,silver,gold}/
<table>/`. Two publish paths, mirroring the reference's
save_table_to_gbq (reference dags/utils/common/data_helper.py:48-106):

  partition replace   idempotent per-partition overwrite — Spark dynamic
                      partition overwrite replaces only the partitions
                      present in the frame (BigQuery `table$YYYYMMDD` +
                      WRITE_TRUNCATE analog)
  merge               partition-scoped MERGE — BigQuery `MERGE INTO`
                      analog (reference merges the delta into the table;
                      it never rewrites the table). Only partitions the
                      delta touches (its own partition_values plus any
                      partition holding a matched key) are rewritten,
                      via dynamic partition overwrite; rows in untouched
                      partitions never move. On a real deployment this
                      is a Delta/Iceberg MERGE commit; dynamic partition
                      overwrite is the plain-parquet stand-in.

Both stamp etl_inserted + partition_value at publish
(reference dags/utils/etl.py:63-82).

Under those two verbs sit one mechanism per publish concern:

  directory swap      every whole-directory rewrite (compact,
                      repartition_layout, MergeOnReadTable.apply_deletes,
                      streaming/pipeline.py::rollup_merge_sink) writes a
                      staging dir beside the target, then _swap_in runs
                      two renames: final → final.old, staging → final,
                      then drops final.old. Readers see the old or the
                      new directory, never a torn one. A crash before
                      the first rename leaves the target untouched (an
                      orphan `_tmp-` staging dir, which no reader
                      lists). Crash rule, applied by _heal before every
                      read and rewrite: `.old` alone → the crash fell
                      between the renames, restore it; `.old` next to
                      final → the swap completed, drop it. Pinned by
                      tests/unit/test_merge_partition_scoped.py (table,
                      repartition_layout, rollup state) and
                      test_incremental.py::test_merge_on_read_crash_recovery.
  commit write        every manifest, sidecar, spec and pointer file is
                      written by atomic_write: a unique same-directory
                      dot-prefixed temp file, then os.replace. A crash
                      leaves the previous file or the new one, never a
                      truncated one; the temp is ignored by every reader.
  file listing        parquet_files(root) is the one walk over a
                      table's data files.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.merge import merge_upsert

DATABASES = ("bronze", "silver", "gold")


def parquet_files(root: str) -> list[str]:
    """Every parquet data file under `root`, sorted (none if missing)."""
    return sorted(
        os.path.join(d, n)
        for d, _sub, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def atomic_write(path: str, text: str) -> None:
    """Replace `path` with `text` in one step (the module's commit write)."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _swap_in(final: str, write: Callable[[str], None]) -> None:
    """Publish a rewrite of `final`: `write(staging)` fills a staging dir
    beside it, then the two-rename swap in the module docstring."""
    staging = os.path.join(
        os.path.dirname(final), f"_tmp-{os.path.basename(final)}-{uuid.uuid4().hex[:8]}"
    )
    write(staging)
    old = final + ".old"
    if os.path.isdir(final):
        os.rename(final, old)
    os.rename(staging, final)
    shutil.rmtree(old, ignore_errors=True)


def _heal(final: str) -> None:
    """Apply the swap's crash rule (module docstring) to `final`."""
    old = final + ".old"
    if not os.path.isdir(old):
        return
    if os.path.isdir(final):
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(old, final)


def zorder_key(dims: list[tuple], bits: int = 12):
    """Morton (Z-curve) key column: each (col, lo, hi) dimension is
    affine-ranked into [0, 2^bits) with clamping, then the ranks' bits
    are interleaved (dim d contributes bit i to position i·ndims + d).
    Pure per-row arithmetic — deterministic, engine-portable, and a
    single codegen chain of bits·ndims OR-free adds (terms are disjoint
    bits, so + ≡ |)."""
    ranks = []
    for col, lo, hi in dims:
        scaled = F.floor(
            (col.cast("double") - F.lit(float(lo)))
            / F.lit(float(hi) - float(lo))
            * F.lit(float(1 << bits))
        ).cast("bigint")
        ranks.append(F.least(F.greatest(scaled, F.lit(0)), F.lit((1 << bits) - 1)))
    z = F.lit(0).cast("bigint")
    nd = len(ranks)
    for i in range(bits):
        for d, r in enumerate(ranks):
            z = z + F.shiftleft(
                F.shiftright(r, i).bitwiseAND(F.lit(1)).cast("bigint"), i * nd + d
            )
    return z


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        for db in DATABASES:
            os.makedirs(os.path.join(root, db), exist_ok=True)

    def path(self, db: str, table: str) -> str:
        return os.path.join(self.root, db, table)

    def exists(self, db: str, table: str) -> bool:
        # heal first: a half-swapped table would otherwise read as
        # missing and read() would bootstrap it empty, losing history
        p = self.path(db, table)
        _heal(p)
        return os.path.isdir(p) and any(
            not n.startswith((".", "_tmp")) for n in os.listdir(p)
        )

    def read(
        self,
        db: str,
        table: str,
        schema: StructType | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read a table; missing table + declared schema → empty frame
        (lets the first pipeline run bootstrap dims from nothing).

        merge_schema=True unions the footer schemas of all files — the
        required read mode after an evolving MERGE, where untouched
        partitions still carry the pre-evolution schema on disk (a
        sampled-file schema would randomly lose the new columns)."""
        if self.exists(db, table):
            reader = self.spark.read
            if merge_schema:
                reader = reader.option("mergeSchema", True)
            return reader.parquet(self.path(db, table))
        if schema is None:
            raise FileNotFoundError(f"{db}.{table} does not exist and no schema given")
        full = _with_publish_fields(schema)
        return self.spark.createDataFrame([], full)

    def _stamp(self, df: DataFrame, partition: str) -> DataFrame:
        out = df
        if "etl_inserted" not in df.columns:
            out = out.withColumn("etl_inserted", F.current_timestamp())
        if "partition_value" not in df.columns:
            out = out.withColumn("partition_value", F.lit(partition).cast("date"))
        return out

    def write_partition_replace(
        self, df: DataFrame, db: str, table: str, partition: str
    ) -> None:
        """S3/ST4: idempotent per-partition overwrite on partition_value."""
        if df is None:
            return
        self._stamp(df, partition).write.mode("overwrite").partitionBy(
            "partition_value"
        ).parquet(self.path(db, table))

    def write_bucketed(
        self,
        df: DataFrame,
        db: str,
        table: str,
        keys: list[str],
        buckets: int = 16,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed (hash-clustered) table — the co-located-join path.

        Two tables bucketed on the same key with the same bucket count
        join WITHOUT an Exchange on either side: the scan itself reports
        hashpartitioning(key, buckets). At 100 TB this is the difference
        between re-shuffling the fact table on every join and shuffling
        it once at write time. Bucket metadata lives in the session
        catalog (saveAsTable); data files land under the warehouse root.
        """
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self.path(db, table))
            .bucketBy(buckets, *keys)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(f"{db}.{table}")

    def write_clustered(
        self,
        df: DataFrame,
        db: str,
        table: str,
        cluster_cols: list[str],
        n_files: int = 8,
    ) -> None:
        """Range-clustered write — the file-skipping path for columns
        too fine-grained to partition by (timestamps, ids).

        repartitionByRange splits rows into n_files contiguous key
        ranges; sortWithinPartitions orders rows inside each file, so
        every parquet file AND row group carries tight, pairwise-
        disjoint min/max stats on the cluster columns. A range or
        point predicate then skips whole files via footer stats
        (ParquetFileFormat row-group filtering) instead of scanning —
        directory partitioning prunes coarse keys (dates), clustering
        prunes inside them. At 100 TB: partition by day, cluster by
        (ts, key) within each day; a narrow time-range query reads a
        handful of files total. Disjointness is pinned by
        tests/unit/test_clustered.py reading the footers back.

        Range boundaries come from Spark's reservoir sample of the
        cluster columns (spark.sql.execution.rangeExchange.sampleSizePerPartition)
        — no driver-side data collection.
        """
        out = df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
        out.write.mode("overwrite").parquet(self.path(db, table))

    def write_zordered(
        self,
        df: DataFrame,
        db: str,
        table: str,
        cluster_cols: list[tuple[str, float, float]],
        bits: int = 12,
        n_files: int = 8,
    ) -> None:
        """Z-order (Morton-interleaved) clustered write — multi-dimension
        file skipping where range clustering only serves one dimension.

        write_clustered sorts lexicographically, so files carry tight
        min/max stats on the FIRST cluster column only; a predicate on
        the second column alone (or a 2-D box) scans everything. The
        Z-curve interleaves the bit-ranks of all dimensions, so file
        boundaries cut space into hyper-rectangles that are tight in
        EVERY dimension at once — each parquet footer then carries a
        small min/max rectangle per column, and an N-dim box predicate
        skips any file whose rectangle misses the box. No zkey predicate
        is needed at read time: skipping rides the ordinary per-column
        footer stats, exactly like Delta/Iceberg OPTIMIZE ZORDER BY.

        cluster_cols is (name, lo, hi) per dimension — the fixed affine
        rank mapping (clamped floor((x-lo)/(hi-lo)·2^bits)) keeps the
        key a pure per-row expression: no sampling pass, deterministic
        across engines, and out-of-range values saturate into edge
        cells rather than erroring. The interleave is a once-per-row
        write-time expression, so its size only matters for codegen
        hygiene — keep bits·dims modest (24 here); skipping precision
        beyond the file count is wasted anyway.

        At 100 TB: partition by day, Z-order by (user, metric) inside
        each partition; selective multi-dim dashboards read a handful
        of files per day instead of the full day.
        """
        z = zorder_key([(F.col(c), lo, hi) for c, lo, hi in cluster_cols], bits)
        out = (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        out.write.mode("overwrite").parquet(self.path(db, table))

    def read_catalog_table(self, db: str, table: str) -> DataFrame:
        """Catalog read — required for bucketed tables (a raw parquet
        path read loses the bucket-spec and re-introduces the shuffle)."""
        return self.spark.table(f"{db}.{table}")

    def merge_write(
        self,
        delta: DataFrame,
        db: str,
        table: str,
        keys: list[str],
        partition: str,
        schema: StructType | None = None,
        evolve_schema: bool = False,
    ) -> None:
        """S4/ST5: MERGE delta into the table on `keys` (delta wins).
        Partition-scoped and idempotent under replay.

        evolve_schema=True accepts a delta whose columns are a superset
        or subset of the table's (new columns only ever ADD — see
        operators/merge.py::align_schemas); the target is then read with
        footer-merged schemas because untouched partitions keep the old
        schema on disk. Default False: a delta whose schema drifted from
        the table fails loudly instead of silently nulling columns.

        Matches reference semantics (dags/utils/common/data_helper.py:76-106
        — BigQuery merges the delta into the table; it never rewrites the
        table): only *touched* partitions are rewritten. Touched =
        partitions the delta writes into ∪ partitions holding a row whose
        key the delta matches (a key can move partitions). The rewrite is
        a dynamic partition overwrite, so at 100 TB a 1-partition delta
        costs one partition's IO, not the table's; untouched partitions'
        files are never opened or moved.

        The plan is one driver collect over target ⟕ broadcast(delta
        keys) ∪ delta: per partition_value, `hit` (it holds a row whose
        key the delta matches), `keep` (it holds a row the delta does
        not match) and `new` (the delta writes into it). Touched = hit ∨
        new. A touched partition with ¬keep ∧ ¬new ends up empty (all
        its keys moved elsewhere); dynamic partition overwrite only
        replaces partitions present in the output, so its stale dir is
        removed explicitly. An empty delta touches nothing and writes
        nothing. The collected rows are partition VALUES (dates),
        bounded by the table's partition count, never row data.
        """
        if delta is None:
            return
        delta = self._stamp(delta, partition)
        final = self.path(db, table)
        if not self.exists(db, table):
            # MERGE auto-create: first publish is a plain partitioned write
            delta.write.mode("overwrite").partitionBy("partition_value").parquet(final)
            return
        if evolve_schema:
            target = self.read(db, table, merge_schema=True)
        else:
            target = self.read(db, table, schema=schema or delta.schema)
        keys = list(keys)
        plan = _merge_plan(target, delta, keys)
        if not plan:
            return
        scoped = target.where(_partition_in(set(plan)))
        if evolve_schema:
            merged = merge_upsert(scoped, delta, keys, evolve_schema=True)
        else:
            merged = merge_upsert(
                scoped.select(*delta.columns), delta.select(*delta.columns), keys
            )
        merged.write.mode("overwrite").partitionBy("partition_value").parquet(final)
        for part, (keep, new) in plan.items():
            if not (keep or new):
                shutil.rmtree(
                    os.path.join(final, f"partition_value={_hive_part(part)}"),
                    ignore_errors=True,
                )

    def compact(
        self,
        db: str,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict[str, int]:
        """Small-file compaction — warehouse maintenance for merge/
        streaming sinks, which fragment tables (every micro-batch MERGE
        rewrites with shuffle-partition-many files; at 100 TB a reader
        then pays per-file open cost and loses row-group locality).

        Rewrites each partition_value directory to
        ceil(partition_bytes / target_file_bytes) files, published by
        the module's directory swap (atomic-commit stand-in;
        Delta/Iceberg OPTIMIZE is the production analog). Data is
        byte-identical — only file layout changes. Returns
        {'files_before': n, 'files_after': m}.

        Per-partition file counts come from the on-disk partition dir
        sizes; rows are spread across that many reducers with a
        deterministic hash salt (pmod(xxhash64(all cols), n_i)), so a
        partition larger than target_file_bytes splits into multiple
        target-size files instead of collapsing to one.
        """
        final = self.path(db, table)
        _heal(final)
        files = parquet_files(final)
        total_bytes = sum(os.path.getsize(p) for p in files)
        df = self.spark.read.parquet(final)
        partitioned = "partition_value" in df.columns
        n_files = max(1, -(-total_bytes // target_file_bytes))
        if partitioned:
            # per-partition target file count from the dir's actual bytes
            part_bytes: dict[str, int] = {}
            for name in os.listdir(final):
                d = os.path.join(final, name)
                if not (name.startswith("partition_value=") and os.path.isdir(d)):
                    continue
                b = sum(os.path.getsize(p) for p in parquet_files(d))
                part_bytes[name.split("=", 1)[1]] = b
            nf_rows = [
                (v, max(1, -(-b // target_file_bytes))) for v, b in part_bytes.items()
            ]
            nf = self.spark.createDataFrame(nf_rows, ["_part_str", "_nf"])
            data_cols = [c for c in df.columns if c != "partition_value"]
            salted = (
                df.join(
                    F.broadcast(nf),
                    F.col("partition_value").cast("string") == F.col("_part_str"),
                    "left",
                )
                .withColumn(
                    "_salt",
                    F.pmod(F.xxhash64(*data_cols), F.coalesce("_nf", F.lit(1))),
                )
                .drop("_part_str", "_nf")
            )
            total_out = max(1, sum(n for _v, n in nf_rows))
            out = salted.repartition(
                int(total_out), F.col("partition_value"), F.col("_salt")
            ).drop("_salt")
        else:
            out = df.repartition(int(n_files))
        w = out.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy("partition_value")
        _swap_in(final, w.parquet)
        return {"files_before": len(files), "files_after": len(parquet_files(final))}

    def repartition_layout(
        self,
        db: str,
        table: str,
        new_partition_expr,
    ) -> dict[str, int]:
        """Partition-scheme migration — rewrite the table under a NEW
        partition_value derived from the old one (day → month is the
        classic: a day-partitioned table that outgrew its partition
        count pays listing/small-file overhead on every scan; month
        partitions restore pruning granularity matched to the query
        patterns). Content is row-identical; only the directory layout
        (and thus which predicates prune) changes.

        Published by the module's directory swap, so the table is never
        observable half-migrated. At 100 TB this is the one legitimate
        full-table rewrite — a one-off layout migration, not a
        recurring sink.

        `new_partition_expr` is a Column over the old columns producing
        the new partition_value. Returns partition counts before/after.
        """
        final = self.path(db, table)
        _heal(final)
        df = self.spark.read.parquet(final)
        parts_before = _count_partitions(final)
        data_cols = [c for c in df.columns if c != "partition_value"]
        out = df.select(*data_cols, new_partition_expr.alias("partition_value"))
        _swap_in(final, out.write.mode("overwrite").partitionBy("partition_value").parquet)
        return {"parts_before": parts_before, "parts_after": _count_partitions(final)}

    def vacuum_partitions(self, db: str, table: str, keep_from: str) -> dict[str, int]:
        """Retention VACUUM — the deletion half of warehouse maintenance
        (compact() is the layout half): drop every partition_value
        directory strictly older than `keep_from` (a 'YYYY-MM-DD'
        cutoff). Partition-dir removal is metadata-scale work — no
        surviving row is read or rewritten, the same reason MERGE is
        partition-scoped — and crash-safety is per-directory: a partial
        vacuum leaves whole partitions either present or absent, never
        torn files (Delta/Iceberg VACUUM + retention policy is the
        production analog). Returns partition counts for audit logging,
        the number every retention job is asked to report.
        """
        cutoff = datetime.date.fromisoformat(keep_from)
        root = self.path(db, table)
        dropped = kept = 0
        for entry in sorted(os.listdir(root)):
            if not entry.startswith("partition_value="):
                continue
            part_date = datetime.date.fromisoformat(entry.split("=", 1)[1])
            if part_date < cutoff:
                shutil.rmtree(os.path.join(root, entry))
                dropped += 1
            else:
                kept += 1
        return {"partitions_dropped": dropped, "partitions_kept": kept}


class _ManifestLog:
    """The commit log SnapshotLog and TransactionLog share: immutable
    per-commit data dirs root/v0000000N/ and one JSON manifest per
    commit at root/_log/0000000N.json, published by atomic_write (the
    manifest write is the commit point)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "_log")
        os.makedirs(self.log_dir, exist_ok=True)

    def versions(self) -> list[int]:
        return sorted(
            int(n[:-5])
            for n in os.listdir(self.log_dir)
            if n.endswith(".json") and not n.startswith(".")
        )

    def _next_version(self) -> int:
        existing = self.versions()
        return (existing[-1] + 1) if existing else 0

    def _resolve(self, version: int | None) -> int:
        """`version`, or the latest one when None; FileNotFoundError if
        it was never committed."""
        existing = self.versions()
        if not existing:
            raise FileNotFoundError(f"no commits under {self.root}")
        if version is None:
            return existing[-1]
        if version not in existing:
            raise FileNotFoundError(f"version {version} not in {existing}")
        return version

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:08d}.json")) as f:
            return json.load(f)

    def _publish(self, manifest: dict) -> int:
        version = manifest["version"]
        atomic_write(os.path.join(self.log_dir, f"{version:08d}.json"), json.dumps(manifest))
        return version

    def _write_files(self, df: DataFrame, data_dir: str) -> list[str]:
        """Write `df` to `data_dir`; its files relative to the root."""
        df.write.mode("overwrite").parquet(data_dir)
        return [os.path.relpath(p, self.root) for p in parquet_files(data_dir)]


class SnapshotLog(_ManifestLog):
    """Commit-log table format: snapshot isolation + time travel over
    plain parquet — the Delta/Iceberg transaction-log pattern reduced to
    its load-bearing core, completing the maintenance family (compact =
    layout, vacuum_partitions = retention, SnapshotLog = versioning).

    Layout:   root/v00000007/…parquet   immutable per-commit data dirs
              root/_log/00000007.json   one manifest per commit

    Each manifest records the commit's FULL file list (its own new files
    plus, for append commits, every file carried over from the parent
    version). Readers resolve version → files through the manifest only.

    Commit protocol: write the data dir FIRST, then publish the
    manifest with atomic_write (_ManifestLog). A crash
    between the two leaves an orphan data dir no manifest references —
    invisible to every reader, reclaimed by vacuum(). Single-writer by
    design (the reference's publish path is a single Airflow task,
    dags/utils/common/data_helper.py:48-106); multi-writer needs the
    conditional-put primitive object stores expose, same as Delta.

    100 TB posture: a commit is one O(#files) manifest — never a table
    rewrite; append commits write only the delta's files (unchanged data
    is carried by reference); any historical version stays readable
    until vacuumed, which is what makes a training run reproducible —
    pin the snapshot id, not "whatever the table held that day".
    """

    def _ref_path(self, abs_file: str) -> str:
        """Manifest entry for an absolute file path: files under this
        log's own root are stored RELATIVE (so vacuum() recognizes
        their v-dirs as referenced); foreign files (clone /
        fast-forward sources outside this root) stay absolute.

        Publishing a same-root file absolutely is the vacuum-corruption
        hazard: `fast_forward(branch)` where the branch was cloned FROM
        this log would otherwise re-reference this log's own v-dirs by
        absolute path, vacuum's first-component resolution would see
        '' instead of 'v0000000N', and a subsequent self-vacuum would
        delete data the live manifest still references."""
        rel = os.path.relpath(abs_file, self.root)
        return abs_file if rel.startswith(os.pardir) else rel

    # -- write path -------------------------------------------------------

    def commit(self, df: DataFrame, mode: str = "replace") -> int:
        """Write `df` as the next version. mode='replace' makes it the
        whole table; mode='append' adds its files to the parent
        version's file list (the delta-only write path — parent data is
        carried by reference, never rewritten)."""
        if mode not in ("replace", "append"):
            raise ValueError(f"unknown commit mode {mode!r}")
        version = self._next_version()
        files = self._write_files(df, os.path.join(self.root, f"v{version:08d}"))
        if mode == "append" and version:
            files = self._manifest(version - 1)["files"] + files
        return self._publish({"version": version, "mode": mode, "files": files})

    # -- read path --------------------------------------------------------

    def read(self, version: int | None = None, merge_schema: bool = False) -> DataFrame:
        """Snapshot read: latest committed version, or AS OF `version`.

        merge_schema=True unions the footer schemas across the
        version's files — required after an append commit whose delta
        ADDED columns (carried parent files keep the old schema on
        disk; a sampled-file schema would randomly lose the new
        columns — same contract as Warehouse.read)."""
        version = self._resolve(version)
        files = self._manifest(version)["files"]
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", True)
        return reader.parquet(*[os.path.join(self.root, f) for f in files])

    def clone(self, dest_root: str, version: int | None = None) -> "SnapshotLog":
        """Zero-copy SHALLOW CLONE (the Delta/Iceberg analog): the
        clone's v0 manifest references the source version's data files
        by absolute path — one O(#files) metadata write, no data read
        or copied, so cloning a 100 TB table costs the same as a 100 MB
        one. The clone then evolves independently: its own commits land
        under its own root; the source never sees them (and vice
        versa). This is what makes dev/test sandboxes and experiment
        branches free on a lakehouse.

        Hazard (same as Delta): vacuum() on the SOURCE does not know
        about clone references and can orphan the clone's files —
        sever with a deep copy (dest.commit(dest.read())) first.
        """
        version = self._resolve(version)
        dest = SnapshotLog(self.spark, dest_root)
        if dest.versions():
            raise FileExistsError(f"clone target {dest_root} already has commits")
        abs_files = [
            dest._ref_path(f if os.path.isabs(f) else os.path.join(self.root, f))
            for f in self._manifest(version)["files"]
        ]
        dest._publish(
            {
                "version": 0,
                "mode": "clone",
                "files": abs_files,
                "source": self.root,
                "source_version": version,
            }
        )
        return dest

    def fast_forward(self, branch: "SnapshotLog", version: int | None = None) -> int:
        """Adopt a branch's version as this log's next version by
        manifest reference — the PUBLISH step of write-audit-publish:
        data files written (and audited) under the branch become
        visible here in one O(#files) metadata commit; nothing is
        copied or rewritten, and until this commit lands no reader of
        this log can see the branch's writes. The inverse hazard of
        clone() applies: vacuum() on the branch can orphan files this
        log now references — deep-copy (commit(read())) to sever."""
        version = branch._resolve(version)
        abs_files = [
            self._ref_path(f if os.path.isabs(f) else os.path.join(branch.root, f))
            for f in branch._manifest(version)["files"]
        ]
        return self._publish(
            {
                "version": self._next_version(),
                "mode": "fast_forward",
                "files": abs_files,
                "source": branch.root,
                "source_version": version,
            }
        )

    # -- maintenance ------------------------------------------------------

    def vacuum(self, keep_last: int = 2) -> dict[str, int]:
        """Drop manifests older than the newest `keep_last`, then delete
        every data dir no surviving manifest references (this is also
        what reclaims crash-orphaned dirs). Directory-level work only —
        no surviving row is read or rewritten."""
        existing = self.versions()
        keep = set(existing[-keep_last:]) if keep_last > 0 else set()
        dropped_manifests = 0
        for v in existing:
            if v not in keep:
                os.remove(os.path.join(self.log_dir, f"{v:08d}.json"))
                dropped_manifests += 1
        # resolve absolute entries (older manifests predating _ref_path, or
        # hand-edited ones) back under root before taking the v-dir name;
        # files outside root can never name one of our v-dirs — skip them.
        referenced_dirs = set()
        for v in keep:
            for f in self._manifest(v)["files"]:
                if os.path.isabs(f):
                    f = os.path.relpath(f, self.root)
                    if f.startswith(os.pardir):
                        continue
                referenced_dirs.add(f.split(os.sep, 1)[0])
        dropped_dirs = 0
        for name in sorted(os.listdir(self.root)):
            if not name.startswith("v") or name == "_log":
                continue
            if os.path.isdir(os.path.join(self.root, name)) and name not in referenced_dirs:
                shutil.rmtree(os.path.join(self.root, name))
                dropped_dirs += 1
        return {"manifests_dropped": dropped_manifests, "data_dirs_dropped": dropped_dirs}


def _merge_plan(target: DataFrame, delta: DataFrame, keys: list[str]) -> dict:
    """{partition_value: (keep, new)} for every partition a MERGE of
    `delta` into `target` touches (Warehouse.merge_write's plan)."""
    # delta keys are small relative to the target (a micro-batch /
    # daily increment) — broadcast so the target is never shuffled
    hits = F.broadcast(delta.select(*keys).distinct().withColumn("_hit", F.lit(True)))
    from_target = target.join(hits, on=keys, how="left").select(
        "partition_value",
        F.col("_hit").isNotNull().alias("hit"),
        F.col("_hit").isNull().alias("keep"),
        F.lit(False).alias("new"),
    )
    from_delta = delta.select(
        F.col("partition_value").cast(target.schema["partition_value"].dataType),
        F.lit(False).alias("hit"),
        F.lit(False).alias("keep"),
        F.lit(True).alias("new"),
    )
    rows = (
        from_target.unionByName(from_delta)
        .groupBy("partition_value")
        .agg(*[F.max(c).alias(c) for c in ("hit", "keep", "new")])
        .where("hit OR new")
        .collect()
    )
    return {r["partition_value"]: (r["keep"], r["new"]) for r in rows}


def _count_partitions(root: str) -> int:
    return sum(
        1 for n in os.listdir(root)
        if n.startswith("partition_value=") and os.path.isdir(os.path.join(root, n))
    )


def _hive_part(value) -> str:
    """Render a partition value the way Spark names its directory."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return str(value)


def _partition_in(values: set):
    """Partition-pruning predicate for a set of partition values
    (NULL-safe: isin() never matches NULL, so NULL gets its own arm)."""
    non_null = [v for v in values if v is not None]
    cond = F.col("partition_value").isin(non_null) if non_null else F.lit(False)
    if None in values:
        cond = cond | F.col("partition_value").isNull()
    return cond


def _with_publish_fields(schema: StructType) -> StructType:
    from pyspark.sql.types import DateType, StructField, TimestampType

    names = {f.name for f in schema.fields}
    fields = list(schema.fields)
    if "etl_inserted" not in names:
        fields.append(StructField("etl_inserted", TimestampType()))
    if "partition_value" not in names:
        fields.append(StructField("partition_value", DateType()))
    return StructType(fields)


def parquet_footer_stats(spark: SparkSession, root: str, stat_col: str) -> DataFrame:
    """Distributed parquet-FOOTER statistics collection — the builder
    of every file-skipping index (Delta's add-file stats, Iceberg's
    manifest metrics): per data file, row count and `stat_col` min/max
    read from row-group metadata only. No data page is ever read — a
    footer is a few KB regardless of file size — and the file list is
    distributed through mapInPandas, so at 100 TB / 1M files this is a
    1M-row metadata job, not a table scan. The planner side of this
    contract (stats → pruned scans) is pinned by scan_clustered_skip /
    scan_zorder_skip; this exposes the producing half as a first-class
    maintenance verb.
    """
    fdf = spark.createDataFrame([(p,) for p in parquet_files(root)], "path string")

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.read_metadata(p)
                idx = md.schema.names.index(stat_col)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                out.append((p, md.num_rows, min(mins), max(maxs)))
            yield pd.DataFrame(
                out, columns=["path", "n_rows", "min_v", "max_v"]
            )

    return fdf.mapInPandas(
        read_footers, "path string, n_rows bigint, min_v bigint, max_v bigint"
    )


class TransactionLog(_ManifestLog):
    """Atomic MULTI-TABLE transactions over plain parquet — the
    consistency primitive single-table logs (Delta, and SnapshotLog
    above) lack: one manifest names the file list of EVERY table in the
    transaction, and one atomic rename publishes them together. A
    reader therefore always sees a fact table and its dimensions from
    the SAME transaction — no torn read where the fact references dim
    versions that aren't visible yet (the failure mode of publishing
    medallion tables one Airflow task at a time, reference
    dags/etl/run_etl.py:36-56, where a crash mid-DAG leaves silver new
    and gold stale).

    Layout:   root/v00000003/<table>/…parquet   per-commit data dirs
              root/_log/00000003.json           one manifest per commit
    Manifest: {"version": v, "tables": {name: [files…]}} — a table
    absent from a commit carries its parent's files by reference
    (same delta-only contract as SnapshotLog append).

    Commit protocol (identical crash story to SnapshotLog): write every
    table's data dir first, then one manifest atomic_write. A crash
    before it leaves orphan dirs no reader resolves; after it, all
    tables flip together. Single-writer by design; on an
    object store the rename becomes a conditional put — same as Delta.

    100 TB posture: commit cost is O(files written this txn) + one
    manifest; unchanged tables never move; any historical transaction
    stays readable until vacuumed — a training run pins one version id
    and gets a CONSISTENT multi-table snapshot forever.
    """

    def commit(
        self,
        tables: dict[str, DataFrame],
        append: set[str] | None = None,
        meta: dict | None = None,
    ) -> int:
        """Atomically publish new contents for `tables`; tables not in
        the dict carry forward from the parent version by reference.
        Tables named in `append` write only their delta's files and
        keep the parent's files too (the delta-only fact-append path).
        `meta` rides in the manifest — e.g. a streaming batch_id, which
        makes foreachBatch replays detectable (exactly-once sinks)."""
        version = self._next_version()
        carried = self._manifest(version - 1)["tables"] if version else {}
        files: dict[str, list[str]] = dict(carried)
        for name, df in tables.items():
            new_files = self._write_files(
                df, os.path.join(self.root, f"v{version:08d}", name)
            )
            if append and name in append:
                files[name] = carried.get(name, []) + new_files
            else:
                files[name] = new_files
        return self._publish({"version": version, "tables": files, "meta": meta or {}})

    def latest_meta(self) -> dict:
        existing = self.versions()
        return self._manifest(existing[-1]).get("meta", {}) if existing else {}

    def read(self, table: str, version: int | None = None) -> DataFrame:
        version = self._resolve(version)
        manifest = self._manifest(version)
        if table not in manifest["tables"]:
            raise FileNotFoundError(f"table {table!r} not in version {version}")
        files = manifest["tables"][table]
        return self.spark.read.parquet(*[os.path.join(self.root, f) for f in files])


def input_fingerprint(paths: list[str]) -> str:
    """Content fingerprint of a set of parquet inputs: sha-256 over the
    sorted (relative path, size, mtime_ns) of every data file. O(#files)
    metadata stats — no data read — which is exactly the granularity a
    lakehouse result cache needs: any append/replace/compaction changes
    a file entry and invalidates."""
    import hashlib

    entries = []
    for root in paths:
        if os.path.isfile(root):
            st = os.stat(root)
            entries.append((os.path.basename(root), st.st_size, st.st_mtime_ns))
            continue
        for p in parquet_files(root):
            st = os.stat(p)
            entries.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    h = hashlib.sha256()
    for e in sorted(entries):
        h.update(repr(e).encode())
    return h.hexdigest()[:32]


def cached_result(spark, inputs: list[str], cache_root: str, compute, query_key: str = ""):
    """Query-result cache: serve a previously materialized result when
    the input fingerprint is unchanged (Snowflake/Databricks result
    cache, reduced to its core). Returns (DataFrame, hit: bool).

    The cache key is input_fingerprint(inputs) ⊕ query_key — so a hit
    costs one directory stat walk and zero scans, while ANY change to
    the inputs (new file, overwrite, compaction) misses and recomputes.
    `query_key` must identify the COMPUTATION (query text / plan
    fingerprint) whenever one cache_root is shared by more than one
    query: with the default empty key, two different queries over the
    same inputs would collide and cross-serve each other's results —
    only safe with a per-query cache_root. Results publish via
    write-then-rename, so a crashed fill never produces a readable
    half-entry; concurrent fillers race benignly (same key → same
    content). At 100 TB the win is the repeated dashboard/report
    query: seconds of metadata stat instead of a full scan."""
    import hashlib

    fp = input_fingerprint(inputs)
    if query_key:
        fp = hashlib.sha256((fp + "\x00" + query_key).encode()).hexdigest()[:32]
    dest = os.path.join(cache_root, fp)
    if os.path.isdir(dest):
        return spark.read.parquet(dest), True
    staging = os.path.join(cache_root, f".tmp-{uuid.uuid4().hex[:8]}")
    compute().write.mode("overwrite").parquet(staging)
    os.makedirs(cache_root, exist_ok=True)
    try:
        os.rename(staging, dest)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)  # lost a benign race
    return spark.read.parquet(dest), False


class MergeOnReadTable:
    """Merge-on-read DELETEs over plain parquet — the Iceberg-v2
    equality-delete-file pattern, the write-cheap half of the
    delete-design space:

      copy-on-write (Warehouse.merge_write)  rewrite touched partitions
                                             at delete time; reads stay
                                             plain scans
      merge-on-read (this)                   deletes land as O(delta)
                                             KEY FILES; every read
                                             anti-joins them until
                                             apply_deletes() compacts

    At 100 TB the difference is the GDPR/erasure workload: deleting a
    few million keys out of a petabyte costs a key-file append here vs
    a multi-TB partition rewrite there; the read tax (one broadcast
    anti-join while deletes are small) is paid until the next
    compaction window applies them for free alongside layout
    maintenance.

    Layout: root/data/…parquet, root/_deletes/d-*.parquet (key files).
    """

    def __init__(self, spark: SparkSession, root: str, key_col: str):
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self.data_dir = os.path.join(root, "data")
        self.del_dir = os.path.join(root, "_deletes")

    def write(self, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.data_dir)

    def delete_keys(self, keys: DataFrame) -> None:
        """O(|keys|) append of an equality-delete file — no data moves."""
        keys.select(F.col(self.key_col)).write.mode("append").parquet(self.del_dir)

    def _deletes(self) -> DataFrame | None:
        if not parquet_files(self.del_dir):
            return None
        return self.spark.read.parquet(self.del_dir)

    def read(self) -> DataFrame:
        _heal(self.data_dir)
        df = self.spark.read.parquet(self.data_dir)
        dels = self._deletes()
        if dels is None:
            return df
        return df.join(F.broadcast(dels.distinct()), self.key_col, "left_anti")

    def apply_deletes(self) -> dict[str, int]:
        """Compaction: materialize the anti-join once, swap atomically,
        clear the delete files — subsequent reads are plain scans again.
        Published by the module's directory swap; every read heals its
        crash window."""
        n_del_files = len(parquet_files(self.del_dir))
        if not n_del_files:
            return {"delete_files_applied": 0}
        _swap_in(self.data_dir, self.read().write.mode("overwrite").parquet)
        shutil.rmtree(self.del_dir, ignore_errors=True)
        return {"delete_files_applied": n_del_files}
