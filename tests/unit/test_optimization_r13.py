"""REBALANCE before a partitioned write lets AQE split a hot partition.

HiddenPartitionTable.write and the text_inverted_index postings write
both distribute by their partition columns with a REBALANCE hint rather
than a hash repartition. A hash repartition pins every partition value
to ONE task, so a hot value becomes a single straggler writing a single
huge file. Under REBALANCE, AQE (optimizeSkewsInRebalancePartitions)
splits any shuffle partition above the advisory size across tasks,
while a small partition value still lands in exactly one file.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from demo_data_warehouse_spark.operators.hidden_partition import HiddenPartitionTable
from demo_data_warehouse_spark.session import tune
from demo_data_warehouse_spark.streaming.pipeline import scratch_dir

_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _files_per_partition(data_dir: str) -> dict[str, int]:
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(data_dir, d)))
        for d in os.listdir(data_dir)
        if d.startswith("_p_")
    }


def test_rebalance_write_splits_hot_partition_not_cold(spark):
    tune(spark)  # AQE on, as every query wrapper pins it
    # hot key: 40k rows truncate to partition 0; five cold keys with 3
    # rows each. The payload makes the hot partition ~2 MB of shuffle
    # bytes from 4 map tasks, far above the 64 KB advisory size below.
    hot = spark.range(0, 40_000, numPartitions=4).select(
        F.col("id"), (F.col("id") % 100).alias("x")
    )
    cold = spark.range(0, 15, numPartitions=4).select(
        (F.col("id") + 1_000_000).alias("id"),
        ((F.col("id") % 5 + 1) * 100).alias("x"),
    )
    df = hot.unionByName(cold).withColumn("pad", F.repeat(F.lit("p"), 40))
    t = HiddenPartitionTable(
        spark, scratch_dir("hp_rebalance"), [{"kind": "truncate", "col": "x", "w": 100}]
    )
    prior = spark.conf.get(_ADVISORY)
    spark.conf.set(_ADVISORY, "64k")
    try:
        t.write(df)
    finally:
        spark.conf.set(_ADVISORY, prior)

    files = _files_per_partition(t.data)
    hot_dir = "_p_truncate_x=0"
    cold_dirs = [f"_p_truncate_x={k * 100}" for k in range(1, 6)]
    assert set(files) == {hot_dir, *cold_dirs}, files
    assert files[hot_dir] > 1, files
    assert all(files[d] == 1 for d in cold_dirs), files
    # the split changes the file layout, never the rows
    assert t.scan([("x", "<", 100)]).count() == 40_000
    assert t.scan([("x", ">=", 100)]).count() == 15
