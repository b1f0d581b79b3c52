"""SnapshotLog (io.py): commit-log snapshot isolation + time travel.

Pins the four contracts the registry query can't see from two
aggregated rows: append commits carry parent files by reference, a
crash-orphaned data dir is invisible to readers, vacuum drops exactly
the unreferenced dirs while every surviving version still reads, and
historical reads are stable across later commits.
"""

from __future__ import annotations

import os
import shutil

import pytest

from demo_data_warehouse_spark.io import SnapshotLog, parquet_files
from demo_data_warehouse_spark.streaming.pipeline import scratch_dir


@pytest.fixture()
def log(spark):
    d = scratch_dir("snaplog_t")
    yield SnapshotLog(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def test_time_travel_reads_are_stable(spark, log):
    log.commit(_df(spark, 0, 10))
    log.commit(_df(spark, 0, 3))
    assert log.versions() == [0, 1]
    assert log.read().count() == 3
    assert log.read(version=0).count() == 10
    # a third commit must not disturb either historical snapshot
    log.commit(_df(spark, 0, 100))
    assert log.read(version=0).count() == 10
    assert log.read(version=1).count() == 3


def test_append_carries_parent_files_by_reference(spark, log):
    log.commit(_df(spark, 0, 10))
    v0_files = set(log._manifest(0)["files"])
    v1 = log.commit(_df(spark, 10, 15), mode="append")
    m1 = log._manifest(v1)
    # delta-only write: every v0 file is referenced verbatim, not copied
    assert v0_files < set(m1["files"])
    assert all(
        f.startswith("v00000000") for f in v0_files
    ), "parent files live in the parent's dir"
    assert log.read().count() == 15
    assert sorted(r.k for r in log.read().collect()) == list(range(15))


def test_crash_orphan_dir_is_invisible(spark, log):
    log.commit(_df(spark, 0, 10))
    # simulate a commit that crashed between data write and manifest
    # publish: a data dir exists but no manifest references it
    _df(spark, 0, 999).write.parquet(os.path.join(log.root, "v00000001"))
    assert log.versions() == [0]
    assert log.read().count() == 10
    # vacuum reclaims the orphan
    stats = log.vacuum(keep_last=1)
    assert stats["data_dirs_dropped"] == 1
    assert log.read().count() == 10


def test_vacuum_keeps_referenced_dirs(spark, log):
    log.commit(_df(spark, 0, 10))
    log.commit(_df(spark, 10, 12), mode="append")  # v1 references v0's dir
    log.commit(_df(spark, 0, 5))  # v2: replace
    stats = log.vacuum(keep_last=2)
    # v0's dir survives (v1 references it) even though v0's manifest dropped
    assert stats["manifests_dropped"] == 1
    assert stats["data_dirs_dropped"] == 0
    assert log.versions() == [1, 2]
    assert log.read(version=1).count() == 12
    assert log.read(version=2).count() == 5
    # drop to one version: v0+v1 dirs now unreferenced
    stats = log.vacuum(keep_last=1)
    assert stats["data_dirs_dropped"] == 2
    assert log.read().count() == 5


def test_commit_modes_validated(spark, log):
    with pytest.raises(ValueError):
        log.commit(_df(spark, 0, 1), mode="merge")
    with pytest.raises(FileNotFoundError):
        log.read()
    log.commit(_df(spark, 0, 1))
    with pytest.raises(FileNotFoundError):
        log.read(version=7)


def test_append_with_added_column_merge_schema(spark, log):
    import pyspark.sql.functions as F

    log.commit(_df(spark, 0, 5))
    delta = _df(spark, 5, 8).withColumn("extra", F.col("k") * 10)
    log.commit(delta, mode="append")
    got = log.read(merge_schema=True)
    assert set(got.columns) == {"k", "extra"}
    rows = {r.k: r.extra for r in got.collect()}
    assert len(rows) == 8
    assert rows[6] == 60 and rows[0] is None  # old files surface NULLs


def test_shallow_clone_is_isolated_and_zero_copy(spark, log):
    log.commit(_df(spark, 0, 5))
    dst_root = scratch_dir("snaplog_clone_t")
    try:
        dup = log.clone(dst_root)
        # zero-copy: no parquet written under the clone root
        assert parquet_files(dst_root) == []
        assert sorted(r.k for r in dup.read().collect()) == list(range(5))
        # independent evolution in both directions
        dup.commit(_df(spark, 10, 12), mode="append")
        log.commit(_df(spark, 20, 21), mode="append")
        assert sorted(r.k for r in dup.read().collect()) == [0, 1, 2, 3, 4, 10, 11]
        assert sorted(r.k for r in log.read().collect()) == [0, 1, 2, 3, 4, 20]
        # clone pins its source version: a later source commit is invisible
        assert 20 not in {r.k for r in dup.read().collect()}
        with pytest.raises(FileExistsError):
            log.clone(dst_root)
    finally:
        shutil.rmtree(dst_root, ignore_errors=True)


def test_clone_survives_source_vacuum_after_deep_copy(spark, log):
    log.commit(_df(spark, 0, 3))
    dst_root = scratch_dir("snaplog_clone_v")
    try:
        dup = log.clone(dst_root)
        dup.commit(dup.read())  # deep copy severs the file references
        log.commit(_df(spark, 0, 1))
        log.commit(_df(spark, 1, 2))
        log.vacuum(keep_last=1)  # drops the cloned-from version's files
        assert sorted(r.k for r in dup.read().collect()) == [0, 1, 2]
    finally:
        shutil.rmtree(dst_root, ignore_errors=True)


def test_self_vacuum_after_fast_forward_from_own_clone(spark, log):
    # WAP round-trip: branch cloned FROM main references main's v-dirs;
    # after main.fast_forward(branch), main's manifest must reference its
    # OWN v-dirs relatively — otherwise vacuum resolves the first path
    # component of an absolute entry as '' and deletes live data dirs.
    log.commit(_df(spark, 0, 5))
    dst_root = scratch_dir("snaplog_wap_v")
    try:
        branch = log.clone(dst_root)
        branch.commit(_df(spark, 10, 12), mode="append")
        log.fast_forward(branch)
        log.vacuum(keep_last=1)
        assert sorted(r.k for r in log.read().collect()) == [0, 1, 2, 3, 4, 10, 11]
    finally:
        shutil.rmtree(dst_root, ignore_errors=True)


def test_vacuum_skips_foreign_absolute_refs(spark, log):
    # a fast-forward from a branch whose files live OUTSIDE this root
    # stays absolute in the manifest; vacuum must not let relpath('..')
    # leak into the referenced set nor delete unrelated local dirs.
    log.commit(_df(spark, 0, 3))
    other_root = scratch_dir("snaplog_foreign_v")
    try:
        other = SnapshotLog(spark, other_root)
        other.commit(_df(spark, 50, 53))
        log.fast_forward(other)
        stats = log.vacuum(keep_last=1)
        assert stats["data_dirs_dropped"] == 1  # only main's own stale v0
        assert sorted(r.k for r in log.read().collect()) == [50, 51, 52]
    finally:
        shutil.rmtree(other_root, ignore_errors=True)


def test_transaction_log_atomicity_and_carry(spark):
    from demo_data_warehouse_spark.io import TransactionLog

    root = scratch_dir("txnlog_t")
    try:
        txn = TransactionLog(spark, root)
        txn.commit({"a": _df(spark, 0, 3), "b": _df(spark, 10, 12)})
        # partial commit: only table a changes; b carries by reference
        txn.commit({"a": _df(spark, 0, 5)})
        assert txn.versions() == [0, 1]
        assert sorted(r.k for r in txn.read("a").collect()) == [0, 1, 2, 3, 4]
        assert sorted(r.k for r in txn.read("b").collect()) == [10, 11]
        # pinned historical read stays consistent
        assert sorted(r.k for r in txn.read("a", version=0).collect()) == [0, 1, 2]

        # simulated crash: data dirs written for v2, manifest never
        # published — readers must still resolve v1 for BOTH tables
        _df(spark, 90, 95).write.parquet(os.path.join(root, "v00000002", "a"))
        _df(spark, 80, 85).write.parquet(os.path.join(root, "v00000002", "b"))
        assert txn.versions() == [0, 1]
        assert sorted(r.k for r in txn.read("a").collect()) == [0, 1, 2, 3, 4]
        assert sorted(r.k for r in txn.read("b").collect()) == [10, 11]
        with pytest.raises(FileNotFoundError):
            txn.read("zzz")
    finally:
        shutil.rmtree(root, ignore_errors=True)
