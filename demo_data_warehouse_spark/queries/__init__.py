"""Driver-facing query registry.

Each operator from SURVEY.md §2 registers:
  - a Spark callable (spark, sf_dir) -> DataFrame
  - optionally, a DuckDB-runnable ANSI-SQL oracle string computing the
    same result over the same parquet tables.

Column-name and value determinism rules (BASELINE.md t2 gate):
  - alias every computed column identically in Spark and SQL;
  - double-typed aggregates go through exact DECIMAL accumulation then
    one final cast to DOUBLE, so partial-aggregation order (Spark) vs
    single-threaded order (DuckDB) cannot change the value;
  - session timezone pinned UTC before every query (reference is
    UTC-everywhere, SURVEY §7.3 item 5).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..reuse import release
from ..session import tune

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a driver query; oracle=None → rows-only check.

    The wrapper releases the previous query's shared frames (reuse.py)
    and re-tunes the session before building this query's frame."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release()
            tune(spark)
            return fn(spark, sf_dir)

        if name in QUERIES:
            # a silent overwrite would drop a query from the driver gate
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def load_all() -> None:
    """Import all query modules so their registrations run."""
    from . import (  # noqa: F401
        analytics_ext,
        core,
        quality,
        relational_ext,
        streams,
        timeseries,
        tpch_ext,
        training,
        warehouse,
    )
