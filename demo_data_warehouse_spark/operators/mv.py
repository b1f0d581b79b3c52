"""Materialized-view query rewrite with incremental maintenance.

The warehouse feature the reference approximates by hand-rebuilding its
gold tables every 5 minutes (dags/utils/etl.py:616-677 rebuilds every
report from scratch; consumers then query the gold table instead of the
facts): here the engine itself (a) keeps the view's MERGEABLE partial
state on disk, (b) maintains it from deltas in O(delta) without
re-reading history (operators/incremental.py state algebra), and (c)
answers any query whose grouping keys are a SUBSET of the view's keys
and whose aggregates are derivable from the state (COUNT/SUM/MIN/MAX,
and AVG = SUM/COUNT — the classic not-self-maintainable-alone case)
from the view — a scan over |groups| rows instead of the fact table.
Non-containable queries fall back to the base scan, so the rewrite is
always semantically transparent.

At 100 TB this is the difference between a dashboard query reading a
few thousand partial-state rows and re-scanning the corpus: the state
is partitionable by any view key, the coarser re-aggregation shuffles
|view groups| rows, and refresh cost tracks the delta, never the
history. Publication is staging-dir + atomic rename, the same
torn-read discipline as io.py's sinks.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import atomic_write
from .incremental import merge_partials, rollup_partials

# aggregates derivable from the (n_rows, sum_c, min_c, max_c) state
DERIVABLE = ("count", "sum", "avg", "min", "max")


def reaggregate(partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Roll partial state up to a coarser key set — the core rewrite
    step. Associativity of the state algebra makes this exact."""
    return partials.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_c").alias("sum_c"),
        F.min("min_c").alias("min_c"),
        F.max("max_c").alias("max_c"),
    )


class MaterializedView:
    """An aggregate MV over one measure column, stored as partial state.

    path layout: versioned state dirs <root>/state-v0000N plus a
    <root>/_current pointer file replaced by io.py's atomic_write.
    Readers resolve the pointer to a COMPLETE directory at every point
    in time; a crash mid-publish leaves the previous version live (the
    orphan staging / superseded dirs are reclaimed on the next
    publish). A single state/ + rename-away scheme would expose a
    no-state window between the two renames.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        group_cols: Sequence[str],
        measure: str,
        dp: int = 2,
    ):
        self.spark = spark
        self.root = root
        self.group_cols = list(group_cols)
        self.measure = measure
        self.dp = dp
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_current")

    @property
    def state_path(self) -> str:
        """Directory of the CURRENT published state (resolves _current;
        falls back to the legacy unversioned state/ dir)."""
        if os.path.exists(self._pointer):
            with open(self._pointer) as fh:
                return os.path.join(self.root, fh.read().strip())
        return os.path.join(self.root, "state")

    def _publish(self, state: DataFrame) -> None:
        versions = sorted(
            int(n.rsplit("v", 1)[1])
            for n in os.listdir(self.root)
            if n.startswith("state-v")
        )
        # resolve what the pointer ACTUALLY references before anything
        # else: after a crash between the state rename and the pointer
        # swap, the max-numbered dir is an orphan and the pointed dir is
        # the one in-flight readers are scanning — retention must keep
        # the pointed one, not the orphan (ADVICE r4)
        pointed = None
        if os.path.exists(self._pointer):
            with open(self._pointer) as fh:
                pointed = fh.read().strip()
        name = f"state-v{(versions[-1] + 1) if versions else 0:05d}"
        staging = os.path.join(self.root, f".staging-{uuid.uuid4().hex}")
        state.write.mode("overwrite").parquet(staging)
        os.rename(staging, os.path.join(self.root, name))
        # atomic pointer swap: readers see the old complete state until
        # this instant, the new complete state after — never neither
        atomic_write(self._pointer, name)
        # reclaim old versions and crash-orphaned staging dirs, but KEEP
        # the immediately-previous version: an in-flight reader that
        # resolved the pointer just before the swap may still be
        # scanning it (the same reason table formats vacuum with a
        # retention window, never at commit time)
        keep = {name, pointed if pointed is not None else name}
        for n in os.listdir(self.root):
            if (n.startswith("state-v") and n not in keep) or n.startswith(
                (".staging-", ".tmp-")
            ):
                p = os.path.join(self.root, n)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)
        legacy = os.path.join(self.root, "state")
        if os.path.isdir(legacy) and versions:
            # legacy layout already superseded by a versioned publish —
            # it is at least two generations old, safe to drop
            shutil.rmtree(legacy, ignore_errors=True)

    def refresh_full(self, base: DataFrame) -> None:
        self._publish(rollup_partials(base, self.group_cols, self.measure, self.dp))

    def refresh_incremental(self, delta: DataFrame) -> None:
        """Merge a fact delta into the stored state — O(delta) plus a
        |groups|-sized merge; the fact history is never re-read."""
        stored = self.state()
        delta_state = rollup_partials(delta, self.group_cols, self.measure, self.dp)
        self._publish(merge_partials(stored, delta_state, self.group_cols))

    def state(self) -> DataFrame:
        return self.spark.read.parquet(self.state_path)

    def can_answer(self, group_cols: Sequence[str], aggs: Sequence[str]) -> bool:
        """Containment test: every requested grouping key is a view key
        and every aggregate is derivable from the partial state."""
        return set(group_cols) <= set(self.group_cols) and all(
            a in DERIVABLE for a in aggs
        )

    def answer(
        self,
        group_cols: Sequence[str],
        aggs: Sequence[str],
        base: DataFrame | None = None,
    ) -> tuple[DataFrame, bool]:
        """Answer (group_cols, aggs over the measure) from the view if
        containable, else from `base` (required then). Returns
        (result, used_mv). Column names: n_rows / sum_value / avg_value
        / min_value / max_value — identical on both paths."""
        scale = float(10**self.dp)
        if self.can_answer(group_cols, aggs):
            st = reaggregate(self.state(), group_cols)
            out = st.select(
                *group_cols,
                F.col("n_rows"),
                (F.col("sum_c").cast("double") / scale).alias("sum_value"),
                (F.col("sum_c").cast("double") / scale / F.col("n_rows")).alias(
                    "avg_value"
                ),
                (F.col("min_c").cast("double") / scale).alias("min_value"),
                (F.col("max_c").cast("double") / scale).alias("max_value"),
            )
            return self._project(out, group_cols, aggs), True
        if base is None:
            raise ValueError("query not containable and no base relation given")
        c = F.round(F.col(self.measure) * (10**self.dp)).cast("bigint")
        out = base.groupBy(*group_cols).agg(
            F.count("*").alias("n_rows"),
            (F.sum(c).cast("double") / scale).alias("sum_value"),
            (F.sum(c).cast("double") / scale / F.count("*")).alias("avg_value"),
            (F.min(c).cast("double") / scale).alias("min_value"),
            (F.max(c).cast("double") / scale).alias("max_value"),
        )
        return self._project(out, group_cols, aggs), False

    @staticmethod
    def _project(df: DataFrame, group_cols: Sequence[str], aggs: Sequence[str]):
        names = {"count": "n_rows", "sum": "sum_value", "avg": "avg_value",
                 "min": "min_value", "max": "max_value"}
        return df.select(*group_cols, *[names[a] for a in aggs])
