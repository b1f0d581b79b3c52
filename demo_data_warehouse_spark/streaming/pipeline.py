"""Structured Streaming re-expression of the reference's micro-batch
pipeline (SURVEY §2.9 ST1-ST5).

The reference is a 5-minute cron loop (reference
dags/ingestion/lark_to_gcs.py:98-104, dags/etl/run_etl.py:24-31) with
hand-rolled watermark state and idempotent sinks. The idiomatic Spark
translation:

  ST1 micro-batch trigger   readStream over the landing dir +
                            trigger(availableNow=True) — drains all
                            pending files as micro-batches, then stops;
                            re-running = the next cron tick.
  ST2 high-watermark state  the stream checkpoint (file-source offsets)
                            replaces the Airflow-Variable watermark; the
                            batch-side StateDoc (lark/source.py) remains
                            for the driver-side REST fetch which Spark
                            cannot checkpoint.
  ST3 late-data replay      withWatermark(ts, delay) bounds state for
                            event-time aggs; the same-day re-read is
                            subsumed by exactly-once file-source offsets
                            + idempotent sinks.
  ST4 idempotent partition  foreachBatch → Warehouse.write_partition_replace
      re-publish            (dynamic partition overwrite per batch).
  ST5 stateful merge        foreachBatch → Warehouse.merge_write — the
                            Delta-style streaming MERGE upsert.

Scale: file-source streams list the landing dir incrementally (no full
re-scan per trigger); windowed-agg state is partitioned by group key so
a 1000-executor cluster shards it; watermarks bound state size so a
100 TB backlog drains in bounded memory.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Warehouse, _heal, _swap_in


def read_landing_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """ST1: stream over a landing directory (the GCS bucket analog,
    reference dags/ingestion/lark_to_gcs.py:85).

    File streams require an explicit schema; when not given, infer it
    from a one-off batch read of the same path (driver-side, metadata
    only — no data scan for parquet).
    """
    if schema is None:
        schema = spark.read.format(fmt).options(**options).load(path).schema
    reader = spark.readStream.format(fmt).schema(schema).options(**options)
    return reader.load(path)


def tumbling_agg(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
    keys: Sequence[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling event-time aggregation — the streaming form
    of queries/core.py::agg_tumbling. State per (window, keys) group is
    dropped once the watermark passes the window end."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(
            F.sum(F.col(value_col).cast("decimal(14,2)")).cast("double").alias("sum_value"),
            F.count("*").alias("n"),
        )
        .select(F.col("w.start").alias("win_start"), *keys, "sum_value", "n")
    )


def run_available_now(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
    output_mode: str = "update",
    memory_table: str | None = None,
    timeout_s: int = 300,
) -> None:
    """Drain all available input as micro-batches, then stop (ST1).

    Either foreachBatch into `batch_fn`, or — for finite verification
    runs — a named in-memory sink (`memory_table`, complete/append per
    `output_mode`).
    """
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="ddw-ckpt-")
    writer = stream.writeStream.trigger(availableNow=True).option(
        "checkpointLocation", checkpoint
    )
    if memory_table is not None:
        writer = writer.format("memory").queryName(memory_table).outputMode(output_mode)
    else:
        writer = writer.foreachBatch(batch_fn).outputMode(output_mode)
    q = writer.start()
    q.awaitTermination(timeout_s)
    if q.isActive:  # pragma: no cover - defensive
        q.stop()
        raise TimeoutError("availableNow stream did not drain in time")


def rollup_merge_sink(
    warehouse: Warehouse,
    db: str,
    table: str,
    keys: Sequence[str],
    measure: str,
) -> Callable[[DataFrame, int], None]:
    """Streaming materialized-view maintenance: each micro-batch is
    partially aggregated (operators/incremental.py::rollup_partials)
    and state-merged into the stored rollup — the streaming form of
    incremental gold maintenance; after any drain, finalize_rollup of
    the state table equals a batch recompute over everything ingested.

    foreachBatch is at-least-once, and a partial-sum merge is NOT
    idempotent — a replayed batch would double-count. Exactly-once is
    restored by committing the applied batch_id atomically WITH the
    state: the id rides inside the swapped state directory (an
    underscore-prefixed marker file Spark readers ignore), so a batch
    is skipped iff its effect is already in the state, no matter where
    a crash landed. The state is published by io.py's directory swap,
    and its crash rule is applied before the marker is read.
    """
    from ..operators.incremental import merge_partials, rollup_partials

    def sink(batch: DataFrame, batch_id: int) -> None:
        state_dir = warehouse.path(db, table)
        _heal(state_dir)
        marker = os.path.join(state_dir, "_applied_batch")
        if os.path.exists(marker):
            with open(marker) as fh:
                if batch_id <= int(fh.read().strip()):
                    return  # replayed micro-batch: effect already committed
        parts = rollup_partials(batch, keys, measure)
        if warehouse.exists(db, table):
            merged = merge_partials(warehouse.read(db, table), parts, keys)
        else:
            merged = parts

        def write_state(staging: str) -> None:
            # executing the write materializes `merged` (reading the OLD
            # state) before any rename touches the directory
            merged.write.mode("overwrite").parquet(staging)
            with open(os.path.join(staging, "_applied_batch"), "w") as fh:
                fh.write(str(batch_id))

        _swap_in(state_dir, write_state)

    return sink


def merge_batch_sink(
    warehouse: Warehouse,
    db: str,
    table: str,
    keys: Sequence[str],
    partition: str,
) -> Callable[[DataFrame, int], None]:
    """ST5: a foreachBatch function MERGE-upserting each micro-batch
    into a warehouse table (BigQuery MERGE / Delta streaming-merge
    analog, reference dags/utils/common/data_helper.py:76-106).

    Idempotent per batch: replaying a micro-batch after a checkpoint
    rollback merges the same rows to the same table state (ST3/ST4).
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        warehouse.merge_write(batch, db, table, list(keys), partition)

    return sink


def partition_replace_sink(
    warehouse: Warehouse, db: str, table: str, partition: str
) -> Callable[[DataFrame, int], None]:
    """ST4: foreachBatch dynamic-partition-overwrite publisher."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        warehouse.write_partition_replace(batch, db, table, partition)

    return sink


def stateful_user_progress(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key running
    event count + latest event time, maintained across micro-batches in
    the checkpointed state store.

    This is the reference's "state lives in the table" SCD2 pattern
    (SURVEY ST5) re-expressed as first-class streaming state: no
    read-back round trip, state sharded by key across executors, exactly
    one emitted row per key per micro-batch (update mode). Counts and
    timestamps only — exact under any batch split, so a finite drain is
    hash-comparable against a batch oracle.
    """
    import pandas as pd  # noqa: F401 — self-contained closure for workers
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, last_ts timestamp"
    # state rides Arrow: keep it primitive (micros as bigint, not Timestamp)
    state_schema = "n bigint, last_us bigint"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, last_us = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            # NaT maps to INT64_MIN under astype('int64') — drop nulls
            # first and skip the ts update when the batch has none valid
            valid = pdf[ts_col].dropna()
            if len(valid):
                m = int(valid.astype("int64").max()) // 1000  # ns → µs
                last_us = m if last_us is None else max(last_us, m)
        state.update((n, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_ts": [pd.to_datetime(last_us, unit="us")],
            }
        )

    return (
        stream.select(F.col(key_col).alias("user_id"), F.col(ts_col).alias(ts_col))
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def fresh_name(prefix: str) -> str:
    """Unique memory-sink / scratch-dir name for verification runs."""
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def scratch_dir(prefix: str) -> str:
    d = os.path.join(tempfile.gettempdir(), fresh_name(prefix))
    os.makedirs(d, exist_ok=True)
    return d
