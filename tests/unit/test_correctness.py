"""Every oracle-backed driver query must match DuckDB at sf0.001.

Mirrors the driver's t2 gate (row-count + columns + order-insensitive
values); the full-size run happens in scripts/check_correctness.py.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from demo_data_warehouse_spark.catalog import TABLES
from scripts.check_correctness import compare, duck_con

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    # the gate's own UTC-pinned connection factory — one source of truth
    # for oracle-session setup (TimeZone pin + table views)
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.execute(ORACLES[name]).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, problems


def test_registry_fully_oracle_backed():
    """Since round 6 every registry query carries a DuckDB oracle —
    zero rows-only entries (the weaker check) remain. Pin that: a new
    query registered without an oracle silently downgrades the driver's
    gate for that name, so it must be a deliberate, visible decision."""
    rows_only = sorted(set(QUERIES) - set(ORACLES))
    assert rows_only == [], (
        f"queries registered without an oracle: {rows_only} — add an "
        "oracle_sql entry (or document why the semantics are not "
        "SQL-expressible and re-add the rows-only smoke test here)"
    )


def test_queries_in_registration_order():
    """queries() is the registry in its own registration order, with
    nothing re-sorted in front of it."""
    from demo_data_warehouse_spark import queries as q

    assert list(QUERIES) == list(q.QUERIES)


def test_dtype_strictness_catches_int_float_mismatch():
    # driver parity (VERDICT r4 wrong #1): DuckDB HUGEINT sums render as
    # float64 while Spark returns int64; the driver hash distinguishes
    # 5 from 5.0. Re-introducing a missing CAST must fail the gate.
    import pandas as pd

    from scripts.check_correctness import compare

    sdf = pd.DataFrame({"k": [1, 2], "v": pd.Series([5, 6], dtype="int64")})
    odf = pd.DataFrame({"k": [1, 2], "v": pd.Series([5.0, 6.0], dtype="float64")})
    problems = compare("meta", sdf, odf)
    assert any("dtype mismatch" in p for p in problems), problems


def test_dtype_strictness_catches_list_cells():
    # driver parity (VERDICT r4 wrong #2): list/ndarray cells crash the
    # driver canonicalizer even when tuple-ized values would compare equal.
    import numpy as np
    import pandas as pd

    from scripts.check_correctness import compare

    sdf = pd.DataFrame({"k": [1], "v": [[1.0, 2.0]]})
    odf = pd.DataFrame({"k": [1], "v": [np.array([1.0, 2.0])]})
    problems = compare("meta", sdf, odf)
    assert any("list/map-typed" in p for p in problems), problems


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_approx_distinct_within_tolerance(spark, sf_dir, duck):
    # tolerance-twin pattern: the query itself computes exact + approx
    # and returns the ±5% verdict; the oracle hash pins exact + TRUE.
    got = QUERIES["agg_approx_distinct"](spark, sf_dir).toPandas()
    assert got.within_tolerance.all(), got
    exact = (
        duck.execute(
            "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n FROM orders"
            " GROUP BY o_orderstatus"
        )
        .fetchdf()
        .set_index("o_orderstatus")
        .n
    )
    for _, row in got.iterrows():
        assert row.n_cust_exact == exact[row.o_orderstatus], row


def test_approx_median_within_tolerance(spark, sf_dir, duck):
    got = QUERIES["agg_approx_median"](spark, sf_dir).toPandas()
    assert got.p50_within_tolerance.all(), got
    assert got.p90_within_tolerance.all(), got
    exact = (
        duck.execute(
            "SELECT event_type, CAST(quantile_cont(CAST(round(value*100) AS"
            " BIGINT), 0.5) * 2 AS BIGINT) AS p50_hc FROM events GROUP BY event_type"
        )
        .fetchdf()
        .set_index("event_type")
        .p50_hc
    )
    for _, row in got.iterrows():
        assert row.p50_halfcents == exact[row.event_type], row


def test_digest_compare_controls(spark, sf_dir, duck):
    """Engine-side digest compare (scripts/check_correctness.py): green
    on a true oracle, red on a row-count doctoring AND on a value
    doctoring that preserves the count — so a digest 'ok' is evidence,
    not vacuous."""
    from pyspark.sql import functions as F

    from scripts import check_correctness as cc

    q = QUERIES["dedup_exact"]
    oracle = ORACLES["dedup_exact"]
    df = q(spark, sf_dir)
    assert cc.digest_compare(df, duck, oracle) == []
    count_doctored = cc.digest_compare(
        df, duck,
        f"SELECT * FROM ({oracle}) WHERE keeper_id <> "
        f"(SELECT MIN(keeper_id) FROM ({oracle}))",
    )
    assert count_doctored and "row count differs" in count_doctored[0]
    value_doctored = cc.digest_compare(
        df, duck,
        f"SELECT CASE WHEN keeper_id = (SELECT MIN(keeper_id) FROM ({oracle})) "
        f"THEN keeper_id + 1 ELSE keeper_id END AS keeper_id, n_copies "
        f"FROM ({oracle})",
    )
    assert value_doctored and "digest differs" in value_doctored[0]
    floaty = q(spark, sf_dir).withColumn("f", F.lit(0.5))
    assert "not portable" in cc.digest_compare(floaty, duck, oracle)[0]


def test_digest_compare_timestamp_controls(spark, sf_dir, duck):
    """Round-8 extension: timestamp columns digest portably via epoch
    microseconds (Spark unix_micros vs DuckDB epoch_us — both read the
    stored UTC instant, independent of session TZ and text formatting).
    Green on the true oracle; red on a 1-second shift that preserves
    the row count; TIMESTAMP_NTZ stays refused (its wall-clock meaning
    under a shifted session TZ is what full collect-compare exists to
    canonicalize)."""
    from pyspark.sql import functions as F

    from scripts import check_correctness as cc

    q = QUERIES["scan_orc_roundtrip"]
    oracle = ORACLES["scan_orc_roundtrip"]
    df = q(spark, sf_dir)
    assert dict(df.dtypes)["l_shipdate"] == "timestamp"  # the case under test
    assert cc.digest_compare(df, duck, oracle) == []
    shifted = cc.digest_compare(
        df, duck,
        "SELECT l_orderkey, l_linenumber, l_returnflag, price_cents, "
        "l_shipdate + INTERVAL 1 SECOND AS l_shipdate "
        f"FROM ({oracle})",
    )
    assert shifted and "digest differs" in shifted[0]
    ntz = df.withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp_ntz"))
    assert "not portable" in cc.digest_compare(ntz, duck, oracle)[0]


def test_digest_timestamptz_oracle_needs_utc_pin(spark, sf_dir, duck):
    """Round-9 hardening (ADVICE r8): digest mode's oracle side reads
    timestamps via epoch_us(CAST(c AS TIMESTAMP)); on a TIMESTAMPTZ
    column that CAST localizes through DuckDB's session zone, so
    duck_con() pins TimeZone='UTC'. Positive control: a TIMESTAMPTZ-
    producing oracle (AT TIME ZONE 'UTC' fixes the instant independent
    of session zone) digest-matches on the pinned connection. Negative
    control: the same oracle on an UNpinned Asia/Ho_Chi_Minh session
    digest-FAILs — proving the pin is load-bearing, not ritual."""
    from scripts import check_correctness as cc

    q = QUERIES["scan_orc_roundtrip"]
    oracle = ORACLES["scan_orc_roundtrip"]
    df = q(spark, sf_dir)
    tz_oracle = (
        "SELECT l_orderkey, l_linenumber, l_returnflag, price_cents, "
        "l_shipdate AT TIME ZONE 'UTC' AS l_shipdate "
        f"FROM ({oracle})"
    )
    assert cc.digest_compare(df, duck, tz_oracle) == []
    shifted = duckdb.connect()
    try:
        shifted.execute("SET TimeZone='Asia/Ho_Chi_Minh'")
        for t in TABLES:
            shifted.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        problems = cc.digest_compare(df, shifted, tz_oracle)
        assert problems and "digest differs" in problems[0], problems
    finally:
        shifted.close()
