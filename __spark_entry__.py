"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over demo_data_warehouse_spark.queries — the registry holds
one entry per implemented operator from SURVEY.md §2 (plus the
training-data extensions), each with a DuckDB oracle where the
semantics are SQL-expressible.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from demo_data_warehouse_spark import queries as q  # noqa: E402
from demo_data_warehouse_spark.catalog import SMOKE_SF_DIR  # noqa: E402

q.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Gold attendance-report shape (SURVEY §7.1 step 3): fact ⟕ dim →
    month bucket → grouped report, on orders ⟕ customer.
    """
    return q.QUERIES["flagship_report"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    return dict(q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(q.ORACLES)
