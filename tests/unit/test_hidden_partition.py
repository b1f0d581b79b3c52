"""Hidden partitioning laws: scan() == plain filter (the injected
partition predicates are pure widenings), pruning actually skips
files/directories, every transform rewrites correctly, and WAP
fast-forward is metadata-only."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from demo_data_warehouse_spark.catalog import table
from demo_data_warehouse_spark.io import SnapshotLog
from demo_data_warehouse_spark.operators.hidden_partition import HiddenPartitionTable
from demo_data_warehouse_spark.streaming.pipeline import scratch_dir


def _events_table(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = HiddenPartitionTable(
        spark,
        scratch_dir("hp_t"),
        [{"kind": "days", "col": "ts"}, {"kind": "bucket", "col": "user_id", "n": 4}],
    )
    t.write(ev)
    return ev, t


def _ids(df):
    return {r.event_id for r in df.select("event_id").collect()}


def test_scan_equals_plain_filter(spark, sf_dir):
    ev, t = _events_table(spark, sf_dir)
    cases = [
        [("ts", ">=", "2024-01-05 12:00:00"), ("ts", "<", "2024-01-07 06:30:00")],
        [("user_id", "=", 3)],
        [("ts", ">", "2024-01-20 00:00:00"), ("user_id", "=", 11)],
        [("ts", "<=", "2024-01-02 00:00:00")],
    ]
    for filters in cases:
        cond = F.lit(True)
        for col, op, v in filters:
            c = F.col(col)
            lit = F.lit(v).cast("timestamp") if col == "ts" else F.lit(v)
            cond = cond & {
                "=": c == lit, ">=": c >= lit, ">": c > lit,
                "<=": c <= lit, "<": c < lit,
            }[op]
        assert _ids(t.scan(filters)) == _ids(ev.where(cond)), filters


def test_scan_prunes_directories(spark, sf_dir):
    # a corrupt file planted OUTSIDE the predicate's partitions must be
    # invisible to a pruned scan (directories never opened) and fatal
    # to an unpruned one — the strongest possible pruning witness
    import pytest

    _, t = _events_table(spark, sf_dir)
    bad_dir = os.path.join(t.data, "_p_days_ts=2024-01-09", "_p_bucket_user_id=0")
    assert os.path.isdir(bad_dir)
    with open(os.path.join(bad_dir, "part-corrupt.snappy.parquet"), "w") as fh:
        fh.write("this is not parquet")
    day3 = t.scan(
        [("ts", ">=", "2024-01-03 00:00:00"), ("ts", "<", "2024-01-04 00:00:00")]
    )
    assert day3.count() > 0  # pruned scan never touches 01-09
    with pytest.raises(Exception):
        spark.read.parquet(t.data).select(F.count(F.lit(1))).collect()


def test_truncate_transform(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 3 % 997).alias("x")
    )
    t = HiddenPartitionTable(
        spark, scratch_dir("hp_tr"), [{"kind": "truncate", "col": "x", "w": 100}]
    )
    t.write(df)
    got = {r.id for r in t.scan([("x", ">=", 250), ("x", "<", 460)]).collect()}
    want = {r.id for r in df.where((F.col("x") >= 250) & (F.col("x") < 460)).collect()}
    assert got == want


def test_truncate_transform_negative_values(spark):
    # write side must use FLOOR (x=-5, w=100 → partition '-100'), matching
    # the scan rewrite's Python `//`; `div` truncation would write it to
    # '0' and the injected p == '-100' filter would silently drop the row.
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") - 200).alias("x")
    )
    t = HiddenPartitionTable(
        spark, scratch_dir("hp_tr_neg"), [{"kind": "truncate", "col": "x", "w": 100}]
    )
    t.write(df)
    for filters in (
        [("x", "=", -5)],
        [("x", ">=", -150), ("x", "<", 50)],
        [("x", "<=", -1)],
    ):
        got = {r.id for r in t.scan(filters).collect()}
        cond = F.lit(True)
        for col, op, v in filters:
            cond = cond & {
                "=": F.col(col) == v,
                ">=": F.col(col) >= v,
                ">": F.col(col) > v,
                "<=": F.col(col) <= v,
                "<": F.col(col) < v,
            }[op]
        want = {r.id for r in df.where(cond).collect()}
        assert got == want, filters


def test_scan_correct_without_partition_type_inference(spark):
    """A session may disable partitionColumnTypeInference, making the
    partition column read back as STRING — where a numeric range like
    p >= '900' compares lexicographically and '1000' < '900' silently
    drops rows (measured before the typed-comparison fix). The rewrite
    casts explicitly, so pruning must be correct under either setting."""
    df = spark.createDataFrame(
        [(i,) for i in (0, 50, 950, 999, 1000, 1050, -5)], "x bigint"
    )
    t = HiddenPartitionTable(
        spark, scratch_dir("hp_no_inf"), [{"kind": "truncate", "col": "x", "w": 100}]
    )
    t.write(df)
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(key)
    try:
        for conf in ("true", "false"):
            spark.conf.set(key, conf)
            got = sorted(r.x for r in t.scan([("x", ">=", 950)]).collect())
            assert got == [950, 999, 1000, 1050], (conf, got)
            neg = sorted(r.x for r in t.scan([("x", "<", 0)]).collect())
            assert neg == [-5], (conf, neg)
    finally:
        spark.conf.set(key, before)


def test_spec_reloads_from_metadata(spark, sf_dir):
    _, t = _events_table(spark, sf_dir)
    reopened = HiddenPartitionTable(spark, t.root)  # no spec passed
    assert reopened.spec == t.spec
    assert _ids(reopened.scan([("user_id", "=", 3)])) == _ids(
        t.scan([("user_id", "=", 3)])
    )


def test_spec_write_failure_keeps_previous_spec(spark):
    """A spec write that fails part-way (here: a value json cannot
    encode) must leave the previous spec readable, not a truncated
    file that makes the next open raise JSONDecodeError."""
    root = scratch_dir("hp_spec_t")
    spec = [{"kind": "bucket", "col": "user_id", "n": 4}]
    HiddenPartitionTable(spark, root, spec)
    with pytest.raises(TypeError):
        HiddenPartitionTable(spark, root, spec + [{"kind": "days", "col": object()}])
    assert HiddenPartitionTable(spark, root).spec == spec


def test_fast_forward_is_metadata_only(spark):
    main = SnapshotLog(spark, scratch_dir("wap_main_t"))
    main.commit(spark.range(0, 100).selectExpr("id", "id * 2 AS v"))
    branch = main.clone(scratch_dir("wap_b_t"))
    branch.commit(spark.range(100, 120).selectExpr("id", "id * 2 AS v"), mode="append")
    before = set(glob.glob(os.path.join(main.root, "**", "*.parquet"), recursive=True))
    main.fast_forward(branch)
    after = set(glob.glob(os.path.join(main.root, "**", "*.parquet"), recursive=True))
    assert after == before  # publish copied nothing
    assert main.read().count() == 120
