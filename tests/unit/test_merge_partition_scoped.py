"""Partition-scoped MERGE: untouched partitions' files never move
(SURVEY §2.1 S4; reference dags/utils/common/data_helper.py:76-106 —
BigQuery merges the delta into the table, it never rewrites the table).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from demo_data_warehouse_spark.io import Warehouse
from demo_data_warehouse_spark.streaming.pipeline import rollup_merge_sink


def _part_files(root: str, db: str, table: str) -> dict[str, dict[str, tuple]]:
    """{partition_dir: {filename: (inode, mtime_ns, size)}}"""
    base = os.path.join(root, db, table)
    out: dict[str, dict[str, tuple]] = {}
    for name in sorted(os.listdir(base)):
        d = os.path.join(base, name)
        if not (name.startswith("partition_value=") and os.path.isdir(d)):
            continue
        files = {}
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(d, fn))
                files[fn] = (st.st_ino, st.st_mtime_ns, st.st_size)
        out[name] = files
    return out


def _seed(spark, wh, n_parts=10):
    rows = [
        (i * 100 + j, f"v{i}", dt.date(2024, 1, 1 + i))
        for i in range(n_parts)
        for j in range(5)
    ]
    df = spark.createDataFrame(rows, ["pk", "v", "partition_value"])
    wh.merge_write(df, "silver", "t", ["pk"], "2024-01-01")
    return df


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    _seed(spark, wh)
    before = _part_files(str(tmp_path), "silver", "t")
    assert len(before) == 10
    # delta: update one key in partition 2024-01-06 + one net-new key there
    delta = spark.createDataFrame(
        [(500, "V5", dt.date(2024, 1, 6)), (999, "NEW", dt.date(2024, 1, 6))],
        ["pk", "v", "partition_value"],
    )
    wh.merge_write(delta, "silver", "t", ["pk"], "2024-01-06")
    after = _part_files(str(tmp_path), "silver", "t")
    touched = "partition_value=2024-01-06"
    for part, files in before.items():
        if part == touched:
            continue
        assert after[part] == files, f"untouched {part} was rewritten"
    got = wh.read("silver", "t")
    assert got.where("pk = 500").select("v").collect()[0][0] == "V5"
    assert got.where("pk = 999").count() == 1
    assert got.count() == 51


def test_merge_key_moving_partition_touches_both(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    _seed(spark, wh)
    before = _part_files(str(tmp_path), "silver", "t")
    # pk=300 lives in 2024-01-04; delta moves it to 2024-01-09
    delta = spark.createDataFrame(
        [(300, "moved", dt.date(2024, 1, 9))], ["pk", "v", "partition_value"]
    )
    wh.merge_write(delta, "silver", "t", ["pk"], "2024-01-09")
    after = _part_files(str(tmp_path), "silver", "t")
    for part, files in before.items():
        if part in ("partition_value=2024-01-04", "partition_value=2024-01-09"):
            continue
        assert after[part] == files, f"untouched {part} was rewritten"
    got = wh.read("silver", "t")
    rows = got.where("pk = 300").select("v", "partition_value").collect()
    assert len(rows) == 1 and rows[0][0] == "moved"
    assert rows[0][1] == dt.date(2024, 1, 9)
    # old partition keeps its other rows, loses pk=300
    assert got.where("partition_value = '2024-01-04'").count() == 4


def test_merge_fully_drained_partition_removed(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    schema = "pk bigint, v string, partition_value date"
    rows = (
        [(i, "a", dt.date(2024, 1, 1)) for i in range(3)]
        + [(100 + i, "b", dt.date(2024, 1, 2)) for i in range(3)]
        + [(200 + i, "n", None) for i in range(2)]  # the NULL partition
    )
    wh.merge_write(
        spark.createDataFrame(rows, schema), "silver", "t2", ["pk"], "2024-01-01"
    )
    assert "partition_value=__HIVE_DEFAULT_PARTITION__" in _part_files(
        str(tmp_path), "silver", "t2"
    )
    # delta pulls ALL of 2024-01-01's keys and the NULL partition's
    # keys into 2024-01-02
    delta = spark.createDataFrame(
        [(i, "A", dt.date(2024, 1, 2)) for i in (0, 1, 2, 200, 201)], schema
    )
    wh.merge_write(delta, "silver", "t2", ["pk"], "2024-01-02")
    parts = _part_files(str(tmp_path), "silver", "t2")
    assert "partition_value=2024-01-01" not in parts
    assert "partition_value=__HIVE_DEFAULT_PARTITION__" not in parts
    got = wh.read("silver", "t2")
    assert got.count() == 8
    assert got.where("partition_value = '2024-01-01'").count() == 0
    assert got.where("partition_value IS NULL").count() == 0


def test_merge_replay_idempotent_on_disk(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    _seed(spark, wh)
    delta = spark.createDataFrame(
        [(500, "V5", dt.date(2024, 1, 6))], ["pk", "v", "partition_value"]
    )
    wh.merge_write(delta, "silver", "t", ["pk"], "2024-01-06")
    rows1 = {tuple(r) for r in wh.read("silver", "t").select("pk", "v").collect()}
    wh.merge_write(delta, "silver", "t", ["pk"], "2024-01-06")
    rows2 = {tuple(r) for r in wh.read("silver", "t").select("pk", "v").collect()}
    assert rows1 == rows2
    # an empty delta (the shape of a replayed SCD2 tick) touches no
    # partition: not even the one it names is rewritten
    before = _part_files(str(tmp_path), "silver", "t")
    empty = spark.createDataFrame([], "pk bigint, v string")
    wh.merge_write(empty, "silver", "t", ["pk"], "2024-01-06")
    assert _part_files(str(tmp_path), "silver", "t") == before


# Every user of io.py's directory swap, as (table dir, next step). The
# next step is what the user does after a crash: read the table, run the
# migration again, or replay the last stream batch (which must stay
# skipped). It returns what the user observes.


def _merged_table(spark, wh):
    df = spark.createDataFrame([(1, "a")], ["pk", "v"])
    wh.merge_write(df.withColumn("partition_value", F.lit("2024-01-01").cast("date")),
                   "silver", "t3", ["pk"], "2024-01-01")

    def read():
        # with a schema, an unhealed table would read as an empty bootstrap
        return sorted(wh.read("silver", "t3", schema=df.schema).select("pk", "v").collect())

    return wh.path("silver", "t3"), read


def _repartitioned_table(spark, wh):
    df = spark.createDataFrame(
        [(1, "a", dt.date(2024, 1, 1)), (2, "b", dt.date(2024, 1, 2))],
        "pk bigint, v string, partition_value date",
    )
    wh.write_partition_replace(df, "silver", "t5", "2024-01-01")

    def migrate():
        stats = wh.repartition_layout(
            "silver", "t5", F.trunc("partition_value", "month")
        )
        rows = sorted(wh.read("silver", "t5").select("pk", "v").collect())
        return stats["parts_before"], rows

    migrate()
    return wh.path("silver", "t5"), migrate


def _rollup_state(spark, wh):
    sink = rollup_merge_sink(wh, "gold", "rollup", ["g"], "v")
    sink(spark.createDataFrame([("a", 1.0), ("b", 4.0)], ["g", "v"]), 0)
    batch = spark.createDataFrame([("a", 2.5), ("c", 3.0)], ["g", "v"])
    sink(batch, 1)

    def replay():
        sink(batch, 1)  # already applied: must not double-count
        return sorted(wh.read("gold", "rollup").collect())

    return wh.path("gold", "rollup"), replay


SWAP_USERS = pytest.mark.parametrize(
    "user",
    [_merged_table, _repartitioned_table, _rollup_state],
    ids=["table", "repartition_layout", "rollup_merge_sink"],
)


@SWAP_USERS
def test_swap_crash_recovery_restores_old(spark, tmp_path, user):
    """Crash window between the two swap renames: only .old remains.
    The next step must restore it, not bootstrap an empty table or
    re-apply a committed batch."""
    final, next_step = user(spark, Warehouse(spark, str(tmp_path)))
    want = next_step()
    os.rename(final, final + ".old")  # simulate crash after rename #1
    assert next_step() == want
    assert os.path.isdir(final) and not os.path.isdir(final + ".old")


@SWAP_USERS
def test_swap_debris_cleaned_when_final_present(spark, tmp_path, user):
    final, next_step = user(spark, Warehouse(spark, str(tmp_path)))
    want = next_step()
    os.makedirs(final + ".old")  # simulate crash after swap, before cleanup
    assert next_step() == want
    assert not os.path.isdir(final + ".old")


def test_compact_splits_large_partitions(spark, tmp_path):
    """ADVICE fix: a partition bigger than target_file_bytes must split
    into ~ceil(bytes/target) files, not collapse to one."""
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(0, 20_000).select(
        F.col("id").alias("pk"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    wh.write_partition_replace(df.repartition(40), "silver", "big", "2024-01-01")
    base = wh.path("silver", "big")
    pdir = os.path.join(base, "partition_value=2024-01-01")
    part_bytes = sum(
        os.path.getsize(os.path.join(pdir, n))
        for n in os.listdir(pdir)
        if n.endswith(".parquet")
    )
    target = max(1, part_bytes // 4)  # expect ~4-5 files after compaction
    stats = wh.compact("silver", "big", target_file_bytes=target)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] >= 3, "large partition collapsed instead of splitting"
    got = {tuple(r) for r in wh.read("silver", "big").select("pk", "payload").collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want
