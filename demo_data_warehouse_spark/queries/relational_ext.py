"""Extended relational surface (SURVEY §2 declared generalizations, part 2).

The reference's join/set/function surface is narrow (equi-joins, concat,
strftime — SURVEY §2.3/§2.7/§2.8); these queries widen the engine to the
full relational toolkit a warehouse user expects: full-outer joins, range
(non-equi) joins, ranking windows, HAVING, array aggregation, lateral
explode, array/string/case scalar functions, and an n-gram text sweep.
Every query here is oracle-backed (DuckDB) — no rows-only checks.

Scale notes (100 TB posture):
  - the range join broadcasts the band dimension (a handful of rows) so
    the non-equi condition never becomes a shuffled nested loop over
    big×big inputs;
  - explode/posexplode is a per-row generator (no shuffle); bigram
    mining shuffles only (bigram, partial-count) pairs after map-side
    combine — the classic word-count shape that scales linearly;
  - collect_list runs per group after hash partitioning; groups here are
    low-cardinality keys with bounded member counts (order priorities),
    the only regime where array aggregation is safe at scale.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from . import query

# ---------------------------------------------------------------------------
# §2.3 joins — beyond the reference's equi-left/anti/inner surface


@query(
    "join_full_outer",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY c_nationkey
    ), s AS (
      SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
)
def join_full_outer(spark, sf_dir):
    """§2.3 generalization: FULL OUTER join — per-nation customer vs
    supplier presence, keeping nations that appear on only one side.
    The reference only ever left-joins (dags/utils/etl.py:437-438);
    full-outer completes the join-type surface."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    joined = c.alias("c").join(s.alias("s"), "nationkey", "full_outer")
    return joined.select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


# Price-band dimension for the range join: tiny, static, broadcast.
_BANDS = [
    ("tier_0", 0.0, 50.0),
    ("tier_1", 50.0, 200.0),
    ("tier_2", 200.0, 1000.0),
    ("tier_3", 1000.0, 1e18),
]


@query(
    "join_range",
    oracle="""
    WITH bands(tier, lo, hi) AS (
      VALUES ('tier_0', 0.0, 50.0), ('tier_1', 50.0, 200.0),
             ('tier_2', 200.0, 1000.0), ('tier_3', 1000.0, 1e18)
    )
    SELECT b.tier,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.tier
    """,
)
def join_range(spark, sf_dir):
    """§2.3 generalization: range (non-equi) join — events bucketed into
    value bands. 100 TB shape: the band dim is broadcast, so the
    inequality condition runs as a BroadcastNestedLoopJoin against a
    handful of rows per event — never a shuffled big×big theta join."""
    ev = table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "tier string, lo double, hi double")
    cond = (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    return (
        ev.join(F.broadcast(bands), cond)
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double") / 100.0).alias(
                "sum_value"
            ),
        )
    )


@query(
    "join_star_agg",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                   AND l.l_suppkey % 25 = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def join_star_agg(spark, sf_dir):
    """TPC-H Q5 shape: 5-way star join (region→nation→customer→orders→
    lineitem) with a local-supplier-style predicate and per-nation
    revenue. 100 TB shape: region/nation broadcast (fixed 5/25 rows),
    customer/orders/lineitem shuffle on their keys with AQE; selective
    region + date filters are pushed to the scans before any join.
    (No partsupp table in the testdata, so the supplier-nation match is
    emulated as l_suppkey % 25 = c_nationkey — same join topology.)"""
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, (li.l_orderkey == o.o_orderkey) & (li.l_suppkey % 25 == c.c_nationkey))
        .groupBy("n_name")
        .agg(
            (F.sum(rev).cast("double") / 10000.0).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) * (SELECT COUNT(*) FROM orders)
          > (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM orders)
    """,
)
def subquery_scalar(spark, sf_dir):
    """§2.4/§2.3 generalization: uncorrelated scalar subquery — orders
    above the global average price. Expressed via spark.sql so Catalyst
    plans the subqueries as one-row broadcasts, not driver-side
    collects. 'price > avg' is cross-multiplied to integer cents
    (price_cents * n > sum_cents) so the boundary comparison is exact —
    a double AVG could flip rows that sit within one ulp of the mean."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_v
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) * (SELECT COUNT(*) FROM orders_v)
              > (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM orders_v)
        """
    )


# ---------------------------------------------------------------------------
# §2.5 windows — ranking family


@query(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank(spark, sf_dir):
    """§2.5 generalization: ranking windows (row_number/rank/dense_rank)
    per customer by spend. Ties broken by o_orderkey so both engines
    produce identical numbering. Single window spec → one shuffle, all
    three functions evaluated in the same Window physical operator."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    )


@query(
    "join_bilateral_volume",
    oracle="""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           year(o.o_orderdate) AS order_year,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS volume,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY n1.n_name, n2.n_name, year(o.o_orderdate)
    """,
)
def join_bilateral_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between two nations, both
    directions, by year — customer-side and supplier-side nation dims
    joined independently (nation broadcast twice under different
    aliases), cross-pair predicate, grouped exact revenue."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        ((F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2"))
        | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy("cust_nation", "supp_nation", F.year("o_orderdate").alias("order_year"))
        .agg(
            (F.sum(rev).cast("double") / 10000.0).alias("volume"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "join_in_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 15000
    )
    """,
)
def join_in_subquery(spark, sf_dir):
    """TPC-H Q18 shape: IN-subquery over an aggregate (large-quantity
    orders) — planned as partial/final agg on lineitem, then a left-semi
    join probing orders. The quantity threshold compares exact integer
    cents, so the boundary can't drift between engines."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("qty_c"))
        .where(F.col("qty_c") > 15000)
    )
    o = table(spark, sf_dir, "orders")
    return o.join(big, o.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
)
def scan_csv_roundtrip(spark, sf_dir):
    """S1/S7: the CSV landing path — write a typed frame to header CSV
    (the reference's /tmp staging, dags/ingestion/lark_to_gcs.py:73-75),
    read it back with an explicit schema (no inference scan), and match
    the original rows. Money travels as integer cents: CSV is textual,
    and integers round-trip exactly where double formatting might not."""
    from ..streaming.pipeline import scratch_dir

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    path = scratch_dir("csv_landing")
    ev.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema("event_id bigint, event_type string, value_cents bigint").option(
        "header", True
    ).csv(path)


@query(
    "scan_partition_prune",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(ts AS DATE) AS event_date
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-10'
    """,
)
def scan_partition_prune(spark, sf_dir):
    """S3's read side: a date-partitioned table answers a one-day query
    by touching ONE partition directory (PartitionFilters, asserted in
    tests/unit/test_plans.py) — the 100 TB contract that a daily report
    never scans the historical table. Writes the partitioned copy to a
    scratch warehouse, then reads back a single day."""
    from ..streaming.pipeline import scratch_dir

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("date").alias("event_date")
    )
    path = scratch_dir("part_events")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    out = spark.read.parquet(path).where(F.col("event_date") == F.lit("2024-01-10").cast("date"))
    return out.select("event_id", "user_id", "event_type", "event_date")


@query(
    "scan_clustered_skip",
    oracle="""
    SELECT event_id, user_id, ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 00:00:00'
    """,
)
def scan_clustered_skip(spark, sf_dir):
    """Range-clustered table answers a time-range query by file
    skipping: the write (io.py::write_clustered) range-partitions and
    sorts on ts, so every file carries disjoint min/max footer stats
    and the pushed predicate (PushedFilters, plan-asserted) eliminates
    whole files before any row is read. The directory-partitioning
    complement of scan_partition_prune — clustering prunes keys too
    fine-grained to be partition columns. Footer disjointness pinned in
    tests/unit/test_clustered.py."""
    from ..io import Warehouse
    from ..streaming.pipeline import scratch_dir

    wh = Warehouse(spark, scratch_dir("clustered"))
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    wh.write_clustered(ev, "silver", "events_by_ts", ["ts"], n_files=8)
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-11 00:00:00").cast("timestamp")
    out = wh.read("silver", "events_by_ts").where(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    )
    return out.select("event_id", "user_id", "ts")


@query(
    "join_bucketed",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_price
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_bucketed(spark, sf_dir):
    """§2.1/§2.3 generalization: co-located join over bucketed tables —
    both sides hash-clustered on the join key at write time, so the
    join AND the following same-key aggregation run without any
    Exchange (plan-asserted in tests/unit/test_plans.py). At 100 TB
    this converts a per-query fact shuffle into a one-time write cost.
    The result is identical to the plain join (the oracle)."""
    from ..io import Warehouse
    from ..streaming.pipeline import scratch_dir

    wh = Warehouse(spark, scratch_dir("bucketed"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    wh.write_bucketed(o, "silver", "orders_bq", ["o_custkey"], buckets=8)
    wh.write_bucketed(c, "silver", "cust_bq", ["o_custkey"], buckets=8)
    joined = wh.read_catalog_table("silver", "cust_bq").join(
        wh.read_catalog_table("silver", "orders_bq"), "o_custkey"
    )
    return (
        joined.groupBy(F.col("o_custkey").alias("c_custkey"), "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double") / 100.0).alias("sum_price"),
        )
    )


@query(
    "window_ntile",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS balance_quartile,
           CAST(percent_rank() OVER (ORDER BY c_acctbal DESC, c_custkey) AS DOUBLE) AS pct_rank
    FROM customer
    """,
)
def window_ntile(spark, sf_dir):
    """§2.5 generalization: distribution windows (ntile quartiles +
    percent_rank) over a global ordering. A single global-order window
    is a deliberate single-partition sort — fine for dim-sized inputs,
    and the plan to avoid on a 100 TB fact (partition it or bucket by
    range first)."""
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("balance_quartile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
    )


@query(
    "window_cume_dist",
    oracle="""
    SELECT n_nationkey, c_custkey,
           CAST(cume_dist() OVER (PARTITION BY n_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS DOUBLE)
             AS bal_cume
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def window_cume_dist(spark, sf_dir):
    """§2.5: cumulative distribution per partition — the per-nation
    percentile position of each customer's balance. Partitioned window
    (one shuffle on the partition key), so unlike a global-order
    window it parallelizes across nations at 100 TB."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_nationkey", "c_custkey", "c_acctbal")
        .select(
            "n_nationkey",
            "c_custkey",
            F.cume_dist().over(w).cast("double").alias("bal_cume"),
        )
    )


@query(
    "window_zscore",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), s AS (
      SELECT event_id, event_type, cents,
             CAST(SUM(cents) OVER (PARTITION BY event_type) AS DOUBLE) AS s1,
             CAST(SUM(cents * cents) OVER (PARTITION BY event_type) AS DOUBLE) AS s2,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n
      FROM c
    )
    SELECT event_id, event_type,
           ROUND((cents / 100.0 - s1 / n / 100.0)
                 / sqrt((s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n) / (n - 1)), 4)
             AS zscore
    FROM s
    """,
)
def window_zscore(spark, sf_dir):
    """Per-group z-score anomaly scoring: each event's value scored
    against its event_type's mean/std — the outlier flagger of a
    data-quality pipeline. The moments come from EXACT integer cent
    sums over an unordered partition window (one shuffle, no join
    back), so mean/std are merge-order-independent; the z formula is
    then a fixed IEEE expression mirrored verbatim in the oracle."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type")
    s1 = F.sum(cents).over(w).cast("double")
    s2 = F.sum(cents * cents).over(w).cast("double")
    n = F.count("*").over(w).cast("double")
    mean_v = s1 / n / F.lit(100.0)
    var_v = (s2 / F.lit(10000.0) - (s1 / F.lit(100.0)) * (s1 / F.lit(100.0)) / n) / (
        n - F.lit(1.0)
    )
    z = (cents / F.lit(100.0) - mean_v) / F.sqrt(var_v)
    return ev.select("event_id", "event_type", F.round(z, 4).alias("zscore"))


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
             AS trail_1h_value
    FROM events
    """,
)
def window_range_frame(spark, sf_dir):
    """§2.5 generalization: RANGE (value-based) window frame — trailing
    1-hour sum per user, ordered by epoch microseconds. Unlike a ROWS
    frame this is peer-inclusive and time-based: the frame holds
    whatever events fall in the last hour, however many rows that is.
    Fixed-point bigint accumulation (csum note in core.py)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w).cast("double") / 100.0).alias(
            "trail_1h_value"
        ),
    )


@query(
    "agg_filtered",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_clicks,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) FILTER (WHERE event_type = 'purchase')
                AS DOUBLE) / 100.0 AS purchase_value,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events GROUP BY user_id
    """,
)
def agg_filtered(spark, sf_dir):
    """§2.4 generalization: filtered aggregation (SQL FILTER clause ≈
    conditional CASE aggregates) — several differently-filtered
    aggregates in ONE pass over the fact table, instead of k filtered
    scans self-joined back together."""
    ev = table(spark, sf_dir, "events")
    click = F.col("event_type") == "click"
    buy = F.col("event_type") == "purchase"
    cents_v = F.round(F.col("value") * 100).cast("bigint")
    return ev.groupBy("user_id").agg(
        F.count(F.when(click, 1)).alias("n_clicks"),
        F.count(F.when(buy, 1)).alias("n_purchases"),
        (F.sum(F.when(buy, cents_v)).cast("double") / 100.0).alias("purchase_value"),
        F.count("*").alias("n_total"),
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             CAST(SUM(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS view
      FROM events GROUP BY user_id
    )
    SELECT user_id, kind, n FROM wide UNPIVOT (n FOR kind IN (click, view))
    """,
)
def agg_unpivot(spark, sf_dir):
    """§2.4 generalization: unpivot/melt — wide per-type counts back to
    long form (the inverse of agg_pivot). A per-row generator after the
    aggregation; no extra shuffle. DuckDB UNPIVOT drops NULL cells;
    counts here are never NULL (SUM of CASE 0/1)."""
    ev = table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view"),
    )
    return wide.unpivot("user_id", ["click", "view"], "kind", "n")


# ---------------------------------------------------------------------------
# §2.4 aggregations — HAVING and array aggregation


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8
    """,
)
def agg_having(spark, sf_dir):
    """§2.4 generalization: HAVING — post-aggregation predicate (repeat
    buyers). Catalyst keeps the filter above the final HashAggregate;
    partial aggregation still runs map-side."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("sum_price"),
        )
        .where(F.col("n_orders") >= 8)
    )


@query(
    "agg_collect",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_collect(spark, sf_dir):
    """§2.4 generalization: array aggregation — distinct statuses per
    priority, sorted for determinism (collect_set order is not defined)
    and joined to a string so the driver's value hash sees a scalar.
    Safe-at-scale regime only: low-cardinality group keys with bounded
    member sets; unbounded collect_list is an OOM, not an operator."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "agg_stats",
    oracle="""
    SELECT event_type,
           ROUND(CAST(stddev_samp(value) AS DOUBLE), 4) AS sd_value,
           ROUND(CAST(var_samp(value) AS DOUBLE), 4) AS var_value,
           ROUND(CAST(corr(value, CAST(user_id AS DOUBLE)) AS DOUBLE), 6) AS corr_vu,
           ROUND(CAST(covar_samp(value, CAST(user_id AS DOUBLE)) AS DOUBLE), 4) AS covar_vu
    FROM events GROUP BY event_type
    """,
)
def agg_stats(spark, sf_dir):
    """§2.4 generalization: statistical aggregates (stddev/variance/
    correlation/covariance) — single-pass streaming moments, map-side
    partial merge. Rounded (4-6 dp) so the two engines' merge-order
    float drift cannot flip the hash; exactness to the last ulp is not
    meaningful for second moments."""
    ev = table(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.corr(F.col("value"), u), 6).alias("corr_vu"),
        F.round(F.covar_samp(F.col("value"), u), 4).alias("covar_vu"),
    )


@query(
    "agg_arg_max",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
             AS top_orderkey,
           arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
             AS bottom_orderkey,
           MAX(o_totalprice) AS top_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_arg_max(spark, sf_dir):
    """§2.4 generalization: argmax/argmin aggregation (max_by/min_by) —
    which order carries the extreme price per status. The ordering key
    is a composite bigint (price_cents * 10^7 + orderkey) so price ties
    break identically in both engines; max_by without a tiebreak is
    nondeterministic. (Headroom: cents ≤ 10^7, orderkey < 10^7 here —
    the composite stays far under int64.)"""
    o = table(spark, sf_dir, "orders")
    key = F.round(F.col("o_totalprice") * 100).cast("bigint") * 10000000 + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", key).alias("top_orderkey"),
        F.min_by("o_orderkey", key).alias("bottom_orderkey"),
        F.max("o_totalprice").alias("top_price"),
    )


@query(
    "fn_null_funcs",
    oracle="""
    SELECT event_id,
           nullif(event_type, 'view') AS type_or_null,
           COALESCE(nullif(event_type, 'view'), 'hidden') AS type_defaulted,
           greatest(value, 50.0) AS val_floor50,
           least(value, 100.0) AS val_cap100,
           CASE WHEN value IS NULL THEN 1 ELSE 0 END AS was_null
    FROM events
    """,
)
def fn_null_funcs(spark, sf_dir):
    """§2.8 generalization: null-handling scalar suite (nullif/coalesce/
    greatest/least/null-probe) — the idiomatic form of the reference's
    defensive fills (F8, dags/utils/common/data_helper.py:139-145)."""
    ev = table(spark, sf_dir, "events")
    tn = F.nullif(F.col("event_type"), F.lit("view"))
    return ev.select(
        "event_id",
        tn.alias("type_or_null"),
        F.coalesce(tn, F.lit("hidden")).alias("type_defaulted"),
        F.greatest(F.col("value"), F.lit(50.0)).alias("val_floor50"),
        F.least(F.col("value"), F.lit(100.0)).alias("val_cap100"),
        F.when(F.col("value").isNull(), 1).otherwise(0).alias("was_null"),
    )


# ---------------------------------------------------------------------------
# §2.7 set ops — distinct union (completes UNION ALL / INTERSECT / EXCEPT)


@query(
    "set_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    UNION
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def set_union_distinct(spark, sf_dir):
    """§2.7 generalization: UNION (distinct) — customers active in either
    year, deduplicated. Plans as union + hash-distinct (one shuffle)."""
    o = table(spark, sf_dir, "orders")
    a = o.where(F.year("o_orderdate") == 1996).select(F.col("o_custkey").alias("custkey"))
    b = o.where(F.year("o_orderdate") == 1997).select(F.col("o_custkey").alias("custkey"))
    return a.union(b).distinct()


@query(
    "agg_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM bounds
    ), m AS (
      SELECT date_trunc('hour', ts) AS hour_start,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.hour_start, COALESCE(m.sum_value, 0.0) AS sum_value, COALESCE(m.n, 0) AS n
    FROM spine s LEFT JOIN m ON s.hour_start = m.hour_start
    """,
)
def agg_gap_fill(spark, sf_dir):
    """Warehouse pattern: time-series gap fill — generate a dense hourly
    calendar spine (sequence over the observed bounds, a one-row
    broadcast + per-row generator) and left-join the sparse hourly
    purchase totals onto it, zero-filling empty hours. Reports over a
    spine never silently drop quiet periods."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    m = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            (F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double") / 100.0).alias(
                "sum_value"
            ),
            F.count("*").alias("n"),
        )
    )
    return spine.join(m, "hour_start", "left").select(
        "hour_start",
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.coalesce("n", F.lit(0)).alias("n"),
    )


@query(
    "window_first_last",
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_val,
           last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val
    FROM events
    """,
)
def window_first_last(spark, sf_dir):
    """§2.5 generalization: first_value/last_value — each event tagged
    with its user's first and latest value. last_value needs the full
    partition frame (the default frame ends at CURRENT ROW — the
    classic silent-wrong-answer); both engines get the explicit frame."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(wfull).alias("last_val"),
    )


@query(
    "set_except_all",
    oracle="""
    SELECT l_orderkey AS okey FROM lineitem WHERE l_linenumber <= 3
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1
    """,
)
def set_except_all(spark, sf_dir):
    """§2.7 generalization: EXCEPT ALL — bag semantics (each occurrence
    subtracts one occurrence), completing the set-op family's
    multiplicity-aware half. Plans as a hash anti-count, one shuffle."""
    li = table(spark, sf_dir, "lineitem")
    a = li.where("l_linenumber <= 3").select(F.col("l_orderkey").alias("okey"))
    b = li.where("l_linenumber = 1").select(F.col("l_orderkey").alias("okey"))
    return a.exceptAll(b)


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark, sf_dir):
    """§2.3 generalization: deliberate CROSS JOIN — enumeration of two
    FIXED-size dims (5 regions × 25 nations). The only sanctioned
    cartesian in the engine: both sides are constant-cardinality; every
    scaling-table cross product is forbidden by the plan tests."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n))


# ---------------------------------------------------------------------------
# §2.8 scalar functions — arrays, lateral explode, strings, CASE


@query(
    "fn_explode",
    oracle="""
    SELECT vec_id,
           CAST(unnest(range(8)) AS BIGINT) AS pos,
           unnest(embedding[1:8]) AS val
    FROM embeddings
    """,
)
def fn_explode(spark, sf_dir):
    """§2.8 generalization: lateral explode with position (posexplode ≈
    UNNEST WITH ORDINALITY) over the first 8 embedding components.
    A per-row generator — no shuffle, stays in whole-stage codegen."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "val")
    ).select("vec_id", F.col("pos").cast("bigint").alias("pos"), "val")


@query(
    "fn_array_ops",
    oracle="""
    SELECT vec_id,
           len(embedding) AS emb_len,
           list_max(embedding) AS emb_max,
           list_min(embedding) AS emb_min,
           embedding[1] AS emb_first,
           list_reverse(embedding)[1] AS emb_last,
           list_contains(embedding, list_max(embedding)) AS has_max
    FROM embeddings
    """,
)
def fn_array_ops(spark, sf_dir):
    """§2.8 generalization: native array functions (size/max/min/element_at/
    reverse/contains) on the embedding column — the ARRAY<STRING>
    carry-through of dim_employee.department_ids (SURVEY §2.8 note),
    exercised on array<float>. All JVM-side, no UDFs; scalar outputs so
    the driver's value hash never sees an array cell."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("emb_len"),
        F.array_max("embedding").alias("emb_max"),
        F.array_min("embedding").alias("emb_min"),
        F.element_at("embedding", 1).alias("emb_first"),
        F.element_at(F.reverse("embedding"), 1).alias("emb_last"),
        F.array_contains("embedding", F.array_max("embedding")).alias("has_max"),
    )


@query(
    "fn_string_ops",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len,
           substring(c_name, 1, 8) AS name_head,
           concat_ws('/', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           regexp_extract(c_name, '([0-9]+)$', 1) AS name_digits
    FROM customer
    """,
)
def fn_string_ops(spark, sf_dir):
    """§2.8 generalization: string function suite (upper/length/substr/
    concat_ws/regexp_extract). The reference's string surface is only
    strftime+concat inside the md5 key (F1); this completes it."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.concat_ws("/", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("name_digits"),
    )


@query(
    "fn_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.org/docs/' || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang || '&sz=' || CAST(n_chars AS VARCHAR) AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, '^https://([^/]+)', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'lang=([^&]*)', 1) AS lang_param
    FROM u
    """,
)
def fn_url_parse(spark, sf_dir):
    """URL decomposition (host / path / query-param) via anchored regex
    extraction — the canonicalization primitive under web-corpus
    source tracking and URL-keyed dedup. Pure projection, regex is
    engine-portable (no parse_url dependence)."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&sz="),
        F.col("n_chars").cast("string"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.regexp_extract(url, r"^https://([^/]+)", 1).alias("host"),
        F.regexp_extract(url, r"^https://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract(url, r"lang=([^&]*)", 1).alias("lang_param"),
    )


@query(
    "fn_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'large' END AS price_band,
           CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'done'
                ELSE 'other' END AS status_word
    FROM orders
    """,
)
def fn_case_when(spark, sf_dir):
    """§2.8 generalization: CASE WHEN bucketing — searched and simple
    forms. Pure projection; folds into the scan's codegen stage."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("large")
        .alias("price_band"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "done")
        .otherwise("other")
        .alias("status_word"),
    )


@query(
    "fn_sha256",
    oracle="""
    SELECT c_custkey,
           sha256(c_name) AS name_sha,
           md5(concat(c_name, '|', c_mktsegment)) AS compound_md5
    FROM customer
    """,
)
def fn_sha256(spark, sf_dir):
    """§2.8 generalization: cryptographic hash surface (sha-256 + md5
    compound keys) — the exact-dedup shuffle key (operators/dedup.py::
    exact_dedup) and F1's surrogate-id shape, exposed as first-class
    scalars. Engine-portable byte-for-byte."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.sha2(F.col("c_name"), 256).alias("name_sha"),
        F.md5(F.concat(F.col("c_name"), F.lit("|"), F.col("c_mktsegment"))).alias(
            "compound_md5"
        ),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS lo_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, 1365) AS xored,
           event_id << 2 AS shifted_l,
           event_id >> 3 AS shifted_r,
           bit_count(CAST(event_id AS BIGINT)) AS popcount
    FROM events
    """,
)
def fn_bitwise(spark, sf_dir):
    """§2.8 generalization: bitwise suite (&, |, xor, shifts, popcount)
    — the primitives under simhash/bucketing, exposed as first-class
    scalars. All codegen-folded."""
    ev = table(spark, sf_dir, "events")
    e = F.col("event_id")
    return ev.select(
        "event_id",
        e.bitwiseAND(F.lit(255)).alias("lo_byte"),
        e.bitwiseOR(F.lit(4096)).alias("with_flag"),
        e.bitwiseXOR(F.lit(1365)).alias("xored"),
        F.shiftleft(e, 2).alias("shifted_l"),
        F.shiftright(e, 3).alias("shifted_r"),
        F.bit_count(e).alias("popcount"),
    )


@query(
    "fn_math_ops",
    oracle="""
    SELECT event_id,
           abs(value - 50.0) AS dist50,
           CAST(ceil(value) AS BIGINT) AS val_ceil,
           CAST(floor(value) AS BIGINT) AS val_floor,
           CAST(round(value * 100) AS BIGINT) % 7 AS mod7,
           round(sqrt(value), 6) AS val_sqrt,
           round(ln(value + 1.0), 6) AS val_ln
    FROM events
    """,
)
def fn_math_ops(spark, sf_dir):
    """§2.8 generalization: math scalar suite. abs/ceil/floor/mod are
    exact; sqrt/ln are rounded to 6dp — libm implementations may differ
    in the last ulp across engines, and transcendental exactness is not
    part of any SQL contract."""
    ev = table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        F.abs(v - 50.0).alias("dist50"),
        F.ceil(v).cast("bigint").alias("val_ceil"),
        F.floor(v).cast("bigint").alias("val_floor"),
        (F.round(v * 100).cast("bigint") % 7).alias("mod7"),
        F.round(F.sqrt(v), 6).alias("val_sqrt"),
        F.round(F.log(v + 1.0), 6).alias("val_ln"),
    )


@query(
    "agg_bool",
    oracle="""
    SELECT user_id,
           bool_and(value >= 0.0) AS all_nonneg,
           bool_or(event_type = 'purchase') AS ever_purchased,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
    """,
)
def agg_bool(spark, sf_dir):
    """§2.4 generalization: boolean aggregates (every/any ≈ bool_and/
    bool_or) — predicate rollups per key, single-pass with map-side
    partials like any other aggregate."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("event_type") == "purchase").alias("ever_purchased"),
        F.count("*").alias("n"),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_multi_distinct(spark, sf_dir):
    """§2.4 generalization: several DISTINCT aggregates with different
    arguments in one query — Catalyst plans this as one Expand (row per
    distinct-set) + two-level aggregation, not k separate scans."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.count("*").alias("n_rows"),
    )


@query(
    "fn_date_arith",
    oracle="""
    SELECT o_orderkey,
           date_diff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch96,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
           dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow
    FROM orders
    """,
)
def fn_date_arith(spark, sf_dir):
    """§2.8 generalization: date arithmetic suite (datediff/date_add/
    last_day/trunc/dayofweek) — the idiomatic forms of the reference's
    strftime bucketing and +7h interval math (F9-F12). DuckDB's
    dayofweek is 0-based Sunday; Spark's is 1-based — the oracle adds 1."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.datediff(d, F.lit("1996-01-01").cast("date")).alias("days_since_epoch96"),
        F.date_add(d, 30).alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "month").alias("month_start"),
        F.dayofweek(d).alias("dow"),
    )


@query(
    "fn_explode_outer",
    oracle="""
    WITH t AS (
      SELECT vec_id, embedding[1 : vec_id % 3] AS head FROM embeddings
    )
    SELECT vec_id,
           unnest(CASE WHEN len(head) = 0 THEN [CAST(NULL AS FLOAT)] ELSE head END) AS val
    FROM t
    """,
)
def fn_explode_outer(spark, sf_dir):
    """§2.8 generalization: NULL-preserving explode — rows with an empty
    array survive as a single NULL row (plain explode silently drops
    them, losing the parent row; the classic fan-out bug). Every third
    vector gets an empty slice here to exercise the preserved branch."""
    emb = table(spark, sf_dir, "embeddings")
    head = F.slice("embedding", 1, (F.col("vec_id") % 3).cast("int"))
    return emb.select("vec_id", F.explode_outer(head).alias("val"))


# ---------------------------------------------------------------------------
# training-data text sweep: n-gram mining with a full SQL oracle


@query(
    "text_pattern_extract",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '\\b[a-z]*ar[a-z]*\\b')) AS n_matches,
           COALESCE(regexp_extract(text, '\\b[a-z]*ar[a-z]*\\b'), '') AS first_match,
           regexp_replace(text, '\\b[a-z]*ar[a-z]*\\b', '<TOKEN>', 'g') LIKE '%<TOKEN>%'
             AS was_redacted
    FROM documents
    """,
)
def text_pattern_extract(spark, sf_dir):
    """Training-data op: regex extract-count-redact per document — the
    PII-scrub shape (emails/URLs/ids in production; a token pattern
    here so the synthetic corpus actually matches). All three forms stay
    JVM-side: regexp_extract_all, regexp_extract, regexp_replace."""
    docs = table(spark, sf_dir, "documents")
    pat = r"\b[a-z]*ar[a-z]*\b"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).cast("bigint").alias("n_matches"),
        F.regexp_extract("text", pat, 0).alias("first_match"),
        F.regexp_replace("text", pat, "<TOKEN>").contains("<TOKEN>").alias("was_redacted"),
    )


@query(
    "text_bigrams",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')
             AS tokens
      FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(tokens)),
                                   i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
      FROM toks WHERE len(tokens) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM bg GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 100
    """,
)
def text_bigrams(spark, sf_dir):
    """Training-data op: corpus bigram frequency top-k — the word-count
    shape. Map side: tokenize + zip adjacent tokens + partial count;
    one shuffle of (bigram, count) pairs; TakeOrderedAndProject for the
    deterministic top-k (cnt desc, bigram asc). No Python UDFs."""
    docs = table(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    d = docs.select(tokens.alias("tokens")).where(F.size("tokens") >= 2)
    bigrams = F.zip_with(
        F.slice("tokens", 1, F.size("tokens") - 1),
        F.slice("tokens", 2, F.size("tokens") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# correlated subqueries (Catalyst decorrelation), deterministic mode,
# map functions, JSON round-trip


@query(
    "subquery_correlated",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * 20
            * (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
          > (SELECT COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
             FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def subquery_correlated(spark, sf_dir):
    """Correlated scalar subqueries — customers whose account balance
    exceeds 1/20th of their own average order price (cents, ×20 — kept
    integer-exact; balances are ~2 orders of magnitude below order
    totals, so the raw comparison would be vacuously empty). Catalyst decorrelates both
    subqueries into one aggregate + left-outer join (no per-row
    re-execution — the thing a naive engine gets wrong). Cross-
    multiplied to integer cents so the boundary comparison is exact.
    No final ORDER BY (driver compare is order-insensitive; a global
    sort over the survivor set is the one non-scalable node —
    scripts/plan_audit.py flags it)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer_v c
        WHERE CAST(round(c_acctbal * 100) AS BIGINT) * 20
                * (SELECT COUNT(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey)
              > (SELECT COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
                 FROM orders_v o WHERE o.o_custkey = c.c_custkey)
        """
    )


@query(
    "subquery_exists",
    oracle="""
    SELECT p_partkey, p_name
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 50)
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity <= 2)
    ORDER BY p_partkey
    """,
)
def subquery_exists(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS — parts with a max-quantity
    shipment but never a near-empty one. Catalyst rewrites to left-semi
    + left-anti joins on the correlation key (plan-asserted in
    tests/unit/test_plans.py — no nested-loop re-execution). No final
    ORDER BY: the driver compare is order-insensitive, and a global
    sort over the (unboundedly large) survivor set would be the one
    non-scalable node in the plan (scripts/plan_audit.py flags it)."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT p_partkey, p_name
        FROM part_v p
        WHERE EXISTS (SELECT 1 FROM lineitem_v l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 50)
          AND NOT EXISTS (SELECT 1 FROM lineitem_v l
                          WHERE l.l_partkey = p.p_partkey AND l.l_quantity <= 2)
        """
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, CAST(month(l_shipdate) AS BIGINT) AS ship_month,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    ), m AS (
      SELECT l_returnflag, ship_month AS mode_month, n AS mode_count
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                        ORDER BY n DESC, ship_month) AS rn FROM c)
      WHERE rn = 1
    ), f AS (
      SELECT l_returnflag,
             COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_heavy,
             COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    )
    SELECT m.l_returnflag, mode_month, CAST(mode_count AS BIGINT) AS mode_count,
           CAST(n_heavy AS BIGINT) AS n_heavy, CAST(n_rows AS BIGINT) AS n_rows
    FROM m JOIN f ON m.l_returnflag = f.l_returnflag
    """,
)
def agg_mode(spark, sf_dir):
    """Deterministic statistical mode (most frequent ship month per
    return flag, ties to the earliest month — never an engine-arbitrary
    pick) + conditional counting via count_if. Two shuffles on the
    same low-cardinality key; the mode rank is a window over the
    already-aggregated (flag, month) table, not the raw rows."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.month("l_shipdate").cast("bigint").alias("ship_month")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("ship_month"))
    mode = (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("ship_month").alias("mode_month"),
            F.col("n").alias("mode_count"),
        )
    )
    cif = li.groupBy("l_returnflag").agg(
        F.expr("count_if(l_quantity >= 25)").alias("n_heavy"),
        F.count("*").alias("n_rows"),
    )
    return mode.join(cif, "l_returnflag")


@query(
    "fn_map_ops",
    oracle="""
    SELECT p_partkey, map_key, map_value, CAST(2 AS BIGINT) AS n_keys FROM (
      SELECT p_partkey, 'brand' AS map_key, p_brand AS map_value FROM part
      UNION ALL
      SELECT p_partkey, 'type', p_type FROM part
    )
    """,
)
def fn_map_ops(spark, sf_dir):
    """Map-typed columns: build a map from arrays, size it, explode it
    back to rows — the attribute-bag pattern for sparse metadata. The
    oracle replays the exploded rows relationally (maps are a layout,
    not a semantic)."""
    p = table(spark, sf_dir, "part")
    m = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type")),
        F.array(F.col("p_brand"), F.col("p_type")),
    )
    return (
        p.select("p_partkey", m.alias("m"))
        .select(
            "p_partkey",
            F.explode("m").alias("map_key", "map_value"),
            F.size("m").cast("bigint").alias("n_keys"),
        )
    )


@query(
    "scan_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    """,
)
def scan_json_roundtrip(spark, sf_dir):
    """S5's wire format done as a sink+source: write typed rows to JSON
    lines (the reference ingests REST JSON payloads,
    dags/ingestion/lark_to_gcs.py), read them back with an explicit
    schema — no inference scan — and match the originals. Money
    travels as integer cents: JSON is textual, and integers round-trip
    exactly where double formatting might not."""
    from ..streaming.pipeline import scratch_dir

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )
    path = scratch_dir("json_landing")
    o.write.mode("overwrite").json(path)
    return spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, price_cents bigint, order_date date"
    ).json(path)


@query(
    "agg_histogram",
    oracle="""
    WITH binned AS (
      SELECT LEAST(GREATEST(CAST(floor(o_totalprice / 20000.0) AS BIGINT), 0), 19) AS bin
      FROM orders
    )
    SELECT bin,
           CAST(bin * 20000.0 AS DOUBLE) AS bin_lo,
           CAST((bin + 1) * 20000.0 AS DOUBLE) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM binned GROUP BY bin
    """,
)
def agg_histogram(spark, sf_dir):
    """Equal-width histogram of order totals (20 bins, width 20k,
    saturating edge bins) — the profiling/dashboard primitive the
    reference's gold reports imply but never generalize
    (dags/utils/etl.py:616-677 fixed groupings). One scan, map-side
    combine, |bins|-row shuffle: the ideal 100 TB aggregation shape.
    Bin edges are exact binary fractions of the input doubles, so the
    DuckDB oracle reproduces the bucketing bit-for-bit."""
    o = table(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(20000.0)).cast("bigint")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(19))
    return (
        o.groupBy(b.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            (F.col("bin") * F.lit(20000.0)).cast("double").alias("bin_lo"),
            ((F.col("bin") + F.lit(1)) * F.lit(20000.0)).cast("double").alias("bin_hi"),
            "n",
        )
    )


@query(
    "cogroup_asof",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts AS click_ts, value AS click_value
      FROM events WHERE event_type = 'click'
    ), views AS (
      SELECT user_id, ts AS view_ts, MAX(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.click_ts, c.click_value,
           v.view_ts, v.view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.click_ts >= v.view_ts
    """,
)
def cogroup_asof(spark, sf_dir):
    """Point-in-time attribution via cogrouped applyInPandas
    (operators/joins.py::asof_join_cogrouped): each click joined to the
    newest same-user view at-or-before it. This is the oracle-checked
    twin of the native union+window asof_join (join_asof) — it pins the
    cogroup API plumbing (co-shuffle both sides on the key, Arrow-batch
    each group pair into pandas merge_asof) against DuckDB's ASOF LEFT
    JOIN. The right side is pre-aggregated unique per (user, ts) so the
    backward-inclusive match is deterministic. Production guidance
    stays: prefer the native form; use cogroup only for per-key logic
    the algebra can't express."""
    from ..operators.joins import asof_join_cogrouped

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("value").alias("view_value"))
    )
    return asof_join_cogrouped(
        clicks, views, "user_id", "click_ts", "view_ts", ["view_ts", "view_value"]
    )


@query(
    "scan_zorder_skip",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE user_id BETWEEN 30 AND 60 AND value BETWEEN 20.0 AND 60.0
    """,
)
def scan_zorder_skip(spark, sf_dir):
    """Z-order-clustered table answering a 2-D box predicate by file
    skipping (io.py::write_zordered): Morton-interleaving the
    (user_id, value) bit-ranks at write time cuts the space into
    per-file hyper-rectangles tight in BOTH dimensions, so the box
    predicate eliminates files via ordinary per-column footer min/max —
    where range clustering (scan_clustered_skip) serves only its lead
    column. Result is layout-independent (the oracle is the plain
    filter); the skipping itself — most files' stat rectangles miss the
    box — is pinned by tests/unit/test_clustered.py reading the footers
    back. The Delta/Iceberg OPTIMIZE ZORDER BY analog on plain parquet."""
    from ..io import Warehouse
    from ..streaming.pipeline import scratch_dir

    wh = Warehouse(spark, scratch_dir("zorder"))
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    bounds = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("value").alias("vlo"),
        F.max("value").alias("vhi"),
    ).first()
    wh.write_zordered(
        ev,
        "silver",
        "events_z",
        [
            ("user_id", bounds["ulo"], bounds["uhi"] + 1),
            ("value", bounds["vlo"], bounds["vhi"] + 1e-6),
        ],
        bits=12,
        n_files=16,
    )
    out = wh.read("silver", "events_z").where(
        F.col("user_id").between(30, 60) & F.col("value").between(20.0, 60.0)
    )
    return out.select("event_id", "user_id", "value")


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY CAST(round(value * 100) AS BIGINT)) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(SUM(cents) AS DOUBLE) / (100.0 * COUNT(*)) AS trimmed_mean
    FROM c
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY event_type
    """,
)
def agg_trimmed_mean(spark, sf_dir):
    """10%-trimmed mean per group via a pandas GROUPED_AGG UDF — the
    UDAF surface (SURVEY §2.10: the reference has none; this is the
    declared custom-aggregate escape hatch). Spark shuffles each group
    to one Arrow batch and the UDAF sorts/trims/sums NumPy-side.

    Exactness contract: values are lifted to integer cents BEFORE the
    UDAF (one JVM-side round), the trim drops the k=⌊n/10⌋ smallest and
    largest elements of the sorted MULTISET (deterministic regardless
    of tie order), the sum is int64, and the single float division
    matches the oracle's CAST(SUM AS DOUBLE)/(100.0·COUNT) op-for-op —
    so a Python UDAF still hash-matches a SQL oracle bit-for-bit.

    Scale: per-group state is the group's cents vector — same contract
    as any holistic aggregate (exact medians, percentile sort): the
    largest group must fit an executor Arrow batch; pre-aggregate or
    sketch (agg_incremental_quantile) when it cannot."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(cents: pd.Series) -> float:
        a = np.sort(cents.to_numpy(dtype="int64"))
        n = len(a)
        k = n // 10
        t = a[k : n - k]
        return float(int(t.sum())) / (100.0 * len(t))

    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint").alias("cents")
    return (
        ev.select("event_type", cents)
        .groupBy("event_type")
        .agg(trimmed_mean(F.col("cents")).alias("trimmed_mean"))
    )


@query(
    "fn_udtf_split",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(len(string_split(text, ' ')))) AS INT) AS pos,
           unnest(string_split(text, ' ')) AS term
    FROM documents
    WHERE doc_id % 100 = 0
    """,
)
def fn_udtf_split(spark, sf_dir):
    """Python UDTF (table function) surface: a per-row generator
    emitting (pos, term) for each whitespace token, consumed as a SQL
    LATERAL join. The reference has no UDTFs (SURVEY §2.10); this pins
    the declared escape hatch for set-returning custom logic with an
    oracle twin (UNNEST WITH ORDINALITY).

    Production guidance unchanged: a native generator (posexplode —
    fn_explode) stays JVM-side and beats any Python UDTF; UDTFs are for
    logic explode() cannot express (stateful parses, multi-row
    expansion with carried state). Row-at-a-time Python, hence the
    deterministic doc_id sample: the point is API parity, not a hot
    path."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, term string")
    class SplitTerms:
        def eval(self, text: str):
            if text is None:
                return
            for i, t in enumerate(text.split(" ")):
                yield i, t

    spark.udtf.register("ddw_split_terms", SplitTerms)
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 100 == 0)
    docs.createOrReplaceTempView("ddw_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, s.pos, s.term "
        "FROM ddw_udtf_docs d, LATERAL ddw_split_terms(d.text) s"
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS c_start, ts + INTERVAL 30 MINUTE AS c_end
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_start, ts + INTERVAL 45 MINUTE AS p_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, p.purchase_id,
           epoch_us(LEAST(c.c_end, p.p_end)) - epoch_us(GREATEST(c.c_start, p.p_start))
             AS overlap_us
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND c.c_start < p.p_end AND p.p_start < c.c_end
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join (attribution windows: click sessions ×
    purchase sessions per user) via grid-bucketed equi-join —
    operators/joins.py::interval_overlap_join. The oracle is the naive
    inequality join; the Spark plan is hash-partitioned on
    (user, bucket) with the exact predicate as a post-filter — the
    shape that survives 100 TB where the inequality form degenerates
    to a per-key nested loop. overlap_us is exact integer microseconds."""
    from ..operators.joins import interval_overlap_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_start"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("c_end"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("interval 45 minutes")).alias("p_end"),
    )
    out = interval_overlap_join(
        clicks, purchases, "user_id", "c_start", "c_end", "p_start", "p_end"
    )
    return out.select("user_id", "click_id", "purchase_id", "overlap_us")


@query(
    "agg_corr_exact",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sx,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
             SUM(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS sxx,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
             SUM(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_price,
           CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 10000.0
             AS covar_samp_dollars
    FROM m
    """,
)
def agg_corr_exact(spark, sf_dir):
    """Correlation/covariance per group from EXACT integer moments:
    built-in corr()/covar_samp() accumulate floats, so their value
    depends on partial-aggregation merge order — hash-unstable across
    engines and even across runs. Here the five moments (Σx, Σy, Σx²,
    Σy², Σxy) accumulate as exact integers (cents, lifted losslessly;
    DECIMAL(38,0) buffers on the Spark side, HUGEINT in DuckDB), and
    the classic n·Σxy−ΣxΣy formulas run ONCE on exact inputs with an
    op-for-op-identical float epilogue — deterministic bit-for-bit.
    Same pattern as window_zscore's integer moments; the mergeable
    moment state also slots into operators/incremental.py maintenance.
    covar is reported in dollars² (cents² / 10⁴)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("decimal(38,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        (num / (F.sqrt(dx) * F.sqrt(dy))).alias("corr_qty_price"),
        (num / (F.col("n") * (F.col("n") - 1)).cast("double") / F.lit(10000.0)).alias(
            "covar_samp_dollars"
        ),
    )


@query(
    "window_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_num
      FROM events
    ), grp AS (
      SELECT user_id, day_num,
             day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num) AS island
      FROM days
    ), islands AS (
      SELECT user_id, island,
             CAST(MIN(day_num) AS BIGINT) AS start_day,
             CAST(MAX(day_num) AS BIGINT) AS end_day,
             CAST(COUNT(*) AS BIGINT) AS streak_days
      FROM grp GROUP BY user_id, island
    )
    SELECT user_id, start_day, end_day, streak_days FROM (
      SELECT user_id, start_day, end_day, streak_days,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, start_day) AS rn
      FROM islands
    ) WHERE rn = 1
    """,
)
def window_islands(spark, sf_dir):
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    days, via the rank-difference idiom (day − row_number is constant
    within a consecutive run). Two window passes + one group-by, all on
    integer day numbers — no self-join, no recursion; the tie rule
    (earliest of equal-length streaks) is pinned. The retention/streak
    KPI shape every activity warehouse needs."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias("day_num"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    grp = days.withColumn("island", F.col("day_num") - F.row_number().over(w))
    islands = grp.groupBy("user_id", "island").agg(
        F.min("day_num").alias("start_day"),
        F.max("day_num").alias("end_day"),
        F.count("*").alias("streak_days"),
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.col("start_day")
    )
    return (
        islands.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("user_id", "start_day", "end_day", "streak_days")
    )


@query(
    "agg_linear_fit",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sx,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
             SUM(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS sxx,
             SUM(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
             AS slope,
           (CAST(sy AS DOUBLE)
            - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) / 100.0 AS intercept_dollars
    FROM m
    """,
)
def agg_linear_fit(spark, sf_dir):
    """Per-group OLS line fit (price ~ quantity) from the same exact
    integer moments as agg_corr_exact: slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²̂),
    intercept = (Σy − slope·Σx)/n — built-in regr_slope/regr_intercept
    accumulate floats and are merge-order-dependent; the exact-moment
    form is deterministic and hash-comparable. Slope is scale-free in
    cents/cent; intercept reported in dollars. The trend-KPI shape of a
    gold-layer report, mergeable for incremental maintenance."""
    li = table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("decimal(38,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / F.lit(100.0)
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept_dollars"),
    )


@query(
    "fn_grouped_normalize",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), m AS (
      SELECT event_type, MIN(cents) AS minc, MAX(cents) AS maxc
      FROM c GROUP BY event_type
    )
    SELECT c.event_id, c.event_type, c.cents,
           CASE WHEN m.maxc = m.minc THEN 0.0
                ELSE CAST(c.cents - m.minc AS DOUBLE) / CAST(m.maxc - m.minc AS DOUBLE)
           END AS value_norm
    FROM c JOIN m USING (event_type)
    """,
)
def fn_grouped_normalize(spark, sf_dir):
    """Per-group min-max normalization via grouped-map applyInPandas —
    the last of the four pandas surfaces (mapInPandas: multimodal;
    applyInPandasWithState: stream_stateful; cogroup: cogroup_asof;
    GROUPED_AGG: agg_trimmed_mean). Each event_type's rows arrive as
    one Arrow batch; the UDF computes group min/max on exact integer
    cents and a single float division per row — identical arithmetic to
    the SQL oracle, so a grouped-map UDF stays hash-matchable. The
    native join+window form is the production path (this co-shuffles
    the same way but pays Arrow transfer); the surface exists for
    per-group logic the algebra can't express (model scoring, library
    calls). Largest group must fit one executor's pandas heap."""

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        minc, maxc = int(pdf["cents"].min()), int(pdf["cents"].max())
        if maxc == minc:
            pdf["value_norm"] = 0.0
        else:
            pdf["value_norm"] = (pdf["cents"] - minc).astype("float64") / float(
                maxc - minc
            )
        return pdf

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return ev.groupBy("event_type").applyInPandas(
        norm, schema="event_id bigint, event_type string, cents bigint, value_norm double"
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap aggregation — the lakehouse
    COUNT DISTINCT accelerator: values map to (bucket, bit position),
    each (group, bucket) folds into one roaring-style bitmap
    (bitmap_construct_agg), bitmaps OR-merge associatively, and the
    final count is Σ bitmap_count. Versus COUNT(DISTINCT): state is
    O(groups · buckets · 4KB) bitmaps instead of a shuffle of every
    distinct pair, merges are cheap bitwise ORs (pre-aggregable into a
    materialized view — the mergeable-state companion to
    operators/incremental.py::distinct_state, exact unlike the HLL
    variant). The oracle is plain COUNT(DISTINCT): bitmap math is
    exact, so they must agree bit-for-bit."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("event_type")
        .agg(F.expr("sum(bitmap_count(bm))").cast("bigint").alias("n_distinct"))
    )


@query(
    "window_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 30 MINUTE
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 30 MINUTE
      GROUP BY e.user_id
    )
    SELECT u.user_id,
           CASE WHEN s3.t3 IS NOT NULL THEN 3
                WHEN s2.t2 IS NOT NULL THEN 2
                WHEN s1.t1 IS NOT NULL THEN 1
                ELSE 0 END AS funnel_depth,
           s1.t1 AS view_ts, s2.t2 AS click_ts, s3.t3 AS purchase_ts
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
)
def window_funnel(spark, sf_dir):
    """Conversion funnel (view → click → purchase, each step within 30
    minutes of the previous) — the product-analytics staple
    (ClickHouse windowFunnel analog), with the standard GREEDY
    anchoring: the funnel starts at the user's FIRST view; each next
    step is the earliest qualifying event after the previous step.
    Three stage aggregations chained by broadcastable user-level
    anchors (|users| rows) — the fact table is scanned per stage but
    never self-joined at row grain, and every stage's agg is map-side
    partial. Deterministic: anchors are MINs of exact timestamps."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("interval 30 minutes"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("interval 30 minutes"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            depth.alias("funnel_depth"),
            F.col("t1").alias("view_ts"),
            F.col("t2").alias("click_ts"),
            F.col("t3").alias("purchase_ts"),
        )
    )


@query(
    "window_retention",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_num
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(day_num) AS cohort_day FROM d GROUP BY user_id
    ), joined AS (
      SELECT c.cohort_day, d.day_num - c.cohort_day AS day_offset
      FROM d JOIN cohort c ON d.user_id = c.user_id
      WHERE d.day_num - c.cohort_day <= 7
    ), sizes AS (
      SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort
      FROM cohort GROUP BY cohort_day
    )
    SELECT j.cohort_day, j.day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active, s.n_cohort
    FROM joined j JOIN sizes s ON j.cohort_day = s.cohort_day
    GROUP BY j.cohort_day, j.day_offset, s.n_cohort
    """,
)
def window_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-activity day,
    counted active at each day offset 0-7 — the growth-analytics
    staple beside window_funnel. Shape: distinct (user, day) →
    per-user MIN (cohort) → one co-keyed join back → count per
    (cohort, offset); every aggregate is map-side partial on integer
    day numbers, cohort sizes broadcast onto the triangle. All-integer
    output, bit-exact by construction."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias("day_num"),
    ).distinct()
    cohort = d.groupBy("user_id").agg(F.min("day_num").alias("cohort_day"))
    joined = (
        d.join(cohort, "user_id")
        .withColumn("day_offset", F.col("day_num") - F.col("cohort_day"))
        .where(F.col("day_offset") <= 7)
    )
    sizes = cohort.groupBy("cohort_day").agg(F.count("*").alias("n_cohort"))
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_day")
        .select("cohort_day", "day_offset", "n_active", "n_cohort")
    )


@query(
    "agg_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
)
def agg_basket_pairs(spark, sf_dir):
    """Market-basket affinity: the top co-purchased part pairs by
    order-level support — the frequent-itemset primitive behind
    recommendations. The pair join is an EQUI-join on the basket key
    (order), so candidate volume is Σ k_i²/2 bounded by the largest
    basket (13 items here), never corpus-quadratic — the same
    bounded-bucket discipline as the LSH dedup family. Distinct
    (order, part) first so duplicate order lines can't inflate
    support; integer counts, pinned tie order."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "l_orderkey").where(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "agg_gini",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(round(value * 100) AS BIGINT), event_id
             ) AS rk
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(cents) AS sx,
             SUM(rk * cents) AS srx
      FROM c GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(2 * srx AS DOUBLE) - CAST((n + 1) * sx AS DOUBLE))
             / CAST(n * sx AS DOUBLE) AS gini
    FROM s
    """,
)
def agg_gini(spark, sf_dir):
    """Gini coefficient of the per-group value distribution — the
    concentration/inequality KPI (is 1% of events carrying 99% of
    value?). Computed from the rank-weighted identity
    G = (2Σi·xᵢ − (n+1)Σx)/(nΣx) over ascending-sorted exact cents:
    one window for ranks (ties broken by event_id so both engines rank
    identically), exact integer sums (HUGEINT/DECIMAL range), and a
    three-term float epilogue mirrored op-for-op in the oracle. The
    sort is per-group (hash-partitioned window), not global."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    c = ev.select("event_id", "event_type", cents.alias("cents")).withColumn(
        "rk", F.row_number().over(w).cast("bigint")
    )
    s = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("rk") * F.col("cents")).cast("decimal(38,0)")).alias("srx"),
    )
    n = F.col("n").cast("decimal(38,0)")
    gini = (
        (F.lit(2).cast("decimal(38,0)") * F.col("srx")).cast("double")
        - ((n + 1) * F.col("sx")).cast("double")
    ) / (n * F.col("sx")).cast("double")
    return s.select("event_type", "n", gini.alias("gini"))


@query(
    "agg_percentile_disc",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(round(value * 100) AS BIGINT), event_id
             ) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           MIN(CASE WHEN rk * 4 >= n THEN cents END) AS p25_cents,
           MIN(CASE WHEN rk * 2 >= n THEN cents END) AS p50_cents,
           MIN(CASE WHEN rk * 4 >= 3 * n THEN cents END) AS p75_cents,
           MIN(CASE WHEN rk * 10 >= 9 * n THEN cents END) AS p90_cents
    FROM c GROUP BY event_type
    """,
)
def agg_percentile_disc(spark, sf_dir):
    """Exact DISCRETE percentiles (p25/p50/p75/p90) in one windowed
    pass: the q-th percentile is the smallest element whose rank
    crosses q·n, selected with integer-exact comparisons (rk·den ≥
    num·n) — no interpolation, so unlike percentile_cont there is no
    float formula for two engines to disagree on. One per-group sort
    (the same shuffle an exact median needs), then a conditional-MIN
    aggregation; at scale the sketch alternative is
    agg_incremental_quantile's binned state."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    c = (
        ev.select("event_id", "event_type", cents.alias("cents"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count("*").over(wn).cast("bigint"))
    )
    def pick(num, den, alias):
        return F.min(
            F.when(F.col("rk") * den >= num * F.col("n"), F.col("cents"))
        ).alias(alias)

    return c.groupBy("event_type").agg(
        pick(1, 4, "p25_cents"),
        pick(1, 2, "p50_cents"),
        pick(3, 4, "p75_cents"),
        pick(9, 10, "p90_cents"),
    )


@query(
    "agg_rfm",
    oracle="""
    WITH base AS (
      SELECT user_id,
             CAST(floor((epoch_us(TIMESTAMP '2024-01-31 00:00:00')
                         - epoch_us(MAX(ts))) / 86400000000) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             -- outer CAST: DuckDB SUM(BIGINT)->HUGEINT->float64 in pandas
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           ntile(4) OVER (ORDER BY recency_days, user_id) AS r_quartile,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
           ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS m_quartile
    FROM base
    """,
)
def agg_rfm(spark, sf_dir):
    """RFM segmentation — the canonical customer-value artifact:
    recency (days since last purchase, integer), frequency (purchase
    count), monetary (exact cents), each quartiled with ntile over a
    FULLY pinned order (metric, then user_id) so bucket boundaries are
    engine-identical. The global ntile sort is the one single-partition
    stage — fine at |users| scale; at billions of users swap ntile for
    percentile thresholds computed per shard (agg_percentile_disc)."""
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    anchor = F.lit("2024-01-31 00:00:00").cast("timestamp")
    base = ev.groupBy("user_id").agg(
        F.floor(
            (F.unix_micros(anchor) - F.unix_micros(F.max("ts"))) / F.lit(86400000000)
        )
        .cast("bigint")
        .alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("monetary_cents"),
    )
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(4).over(Window.orderBy("recency_days", "user_id")).alias("r_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), "user_id"))
        .alias("f_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary_cents"), "user_id"))
        .alias("m_quartile"),
    )


@query(
    "scan_schema_merge",
    oracle="""
    SELECT event_id,
           CAST(round(value * 100) AS BIGINT) AS cents,
           CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type
    FROM events
    """,
)
def scan_schema_merge(spark, sf_dir):
    """Scan-level schema evolution (mergeSchema): two partition
    generations of the same table — the older written before an
    `event_type` column existed, the newer carrying it — read as ONE
    table with the union schema, absent columns null-filled. This is
    the READ side of upstream field additions (the reference refetches
    schemas per run, dags/ingestion/lark_to_gcs.py:110-125; MERGE-side
    evolution is merge_schema_evolution). Footer-merge costs one
    metadata pass over file footers — at 100 TB pin the schema in a
    catalog instead; mergeSchema is the bootstrap/migration tool."""
    from ..streaming.pipeline import scratch_dir

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_type",
    )
    path = scratch_dir("schema_merge")
    ev.where(F.col("event_id") % 2 == 0).drop("event_type").write.parquet(f"{path}/gen=0")
    ev.where(F.col("event_id") % 2 == 1).write.parquet(f"{path}/gen=1")
    out = spark.read.option("mergeSchema", "true").parquet(path)
    return out.select("event_id", "cents", "event_type")


@query(
    "fn_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 = 0 AS k_mod10,
           CAST(COUNT(*) OVER (PARTITION BY CAST(json_extract(props, '$.k') AS BIGINT) % 10)
                AS BIGINT) AS cohort_size
    FROM events
    """,
)
def fn_variant_extract(spark, sf_dir):
    """Semi-structured access through the VARIANT type (Spark 4):
    parse_json once into the binary variant encoding, then typed
    variant_get path extraction — the lakehouse replacement for
    per-query JSON string re-parsing (OPEN-VARIANT stores the parsed
    form; get_json_object re-tokenizes the string on every reference).
    Downstream relational ops (modulo cohorts, a window over the
    extracted key) run on the typed value; the oracle uses plain JSON
    extraction — the representations must agree exactly. Complements
    fn_json_extract (schema-ful from_json) with the schema-flexible
    path."""
    ev = table(spark, sf_dir, "events")
    v = ev.select("event_id", F.parse_json("props").alias("v")).select(
        "event_id", F.expr("variant_get(v, '$.k', 'bigint')").alias("k")
    )
    w = Window.partitionBy(F.col("k") % 10)
    return v.select(
        "event_id",
        "k",
        (F.col("k") % 10 == 0).alias("k_mod10"),
        F.count("*").over(w).cast("bigint").alias("cohort_size"),
    )


@query(
    "agg_dau_mau",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_num
      FROM events
    ), days AS (SELECT DISTINCT day_num FROM d),
    dau AS (
      SELECT day_num, CAST(COUNT(*) AS BIGINT) AS dau FROM d GROUP BY day_num
    ), mau AS (
      SELECT days.day_num, CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS mau
      FROM days JOIN d
        ON d.day_num BETWEEN days.day_num - 27 AND days.day_num
      GROUP BY days.day_num
    )
    SELECT dau.day_num, dau.dau, mau.mau,
           CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
    FROM dau JOIN mau ON dau.day_num = mau.day_num
    """,
)
def agg_dau_mau(spark, sf_dir):
    """DAU/MAU stickiness per day — the growth KPI: daily actives over
    trailing-28-day actives. Distinct (user, day) first (the only
    corpus-sized pass, map-side combinable), then the trailing window
    is a bounded RANGE join on day numbers (each activity row lands in
    ≤28 day buckets — |users·days|·28 is activity-scale, not raw-event
    scale) feeding a distinct count per anchor day. Integer counts;
    one float division mirrored in the oracle."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias("day_num"),
    ).distinct()
    days = d.select("day_num").distinct().select(F.col("day_num").alias("anchor"))
    dau = d.groupBy("day_num").agg(F.count("*").alias("dau"))
    mau = (
        days.join(
            d,
            (F.col("day_num") >= F.col("anchor") - 27)
            & (F.col("day_num") <= F.col("anchor")),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, dau["day_num"] == mau["anchor"])
        .select(
            "day_num",
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


@query(
    "join_nearest_event",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts AS buy_ts, MIN(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT c.click_id, c.user_id,
           (SELECT p.purchase_id FROM p
            WHERE p.user_id = c.user_id
            ORDER BY abs(epoch_us(p.buy_ts) - epoch_us(c.click_ts)),
                     p.buy_ts, p.purchase_id
            LIMIT 1) AS nearest_purchase_id,
           (SELECT abs(epoch_us(p.buy_ts) - epoch_us(c.click_ts)) FROM p
            WHERE p.user_id = c.user_id
            ORDER BY abs(epoch_us(p.buy_ts) - epoch_us(c.click_ts)),
                     p.buy_ts, p.purchase_id
            LIMIT 1) AS abs_gap_us
    FROM c
    """,
)
def join_nearest_event(spark, sf_dir):
    """Nearest-in-time match in EITHER direction (each click to its
    closest same-user purchase, before or after) — the generalization
    of the as-of join (backward-only). One union + sort per user
    carries the previous purchase forward (last ignorenulls) and the
    next purchase backward (first ignorenulls) in a single window
    pass; the winner is the smaller exact-µs gap, ties to the earlier
    purchase. No range join, no per-key nested loop: one shuffle on
    user, sort within partition — the asof_join cost profile exactly.
    Right side pre-aggregated unique per (user, ts) with MIN id so the
    tie order matches the oracle's."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("buy_ts"))
        .agg(F.min("event_id").alias("purchase_id"))
    )
    tagged_c = clicks.select(
        "user_id",
        F.col("click_ts").alias("ts"),
        F.lit(1).alias("side"),
        "click_id",
        F.lit(None).cast("struct<buy_us:bigint,purchase_id:bigint>").alias("pv"),
    )
    tagged_p = buys.select(
        "user_id",
        F.col("buy_ts").alias("ts"),
        F.lit(0).alias("side"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.struct(
            F.unix_micros("buy_ts").alias("buy_us"), F.col("purchase_id")
        ).alias("pv"),
    )
    u = tagged_c.unionByName(tagged_p)
    order = [F.col("ts"), F.col("side"), F.col("pv.purchase_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    got = (
        u.withColumn("prev", F.last("pv", ignorenulls=True).over(w_prev))
        .withColumn("next", F.first("pv", ignorenulls=True).over(w_next))
        .where(F.col("side") == 1)
    )
    us = F.unix_micros("ts")
    prev_gap = us - F.col("prev.buy_us")
    next_gap = F.col("next.buy_us") - us
    pick_prev = F.col("next").isNull() | (
        F.col("prev").isNotNull() & (prev_gap <= next_gap)
    )
    return got.select(
        "click_id",
        "user_id",
        F.when(pick_prev, F.col("prev.purchase_id"))
        .otherwise(F.col("next.purchase_id"))
        .alias("nearest_purchase_id"),
        F.when(pick_prev, prev_gap).otherwise(next_gap).alias("abs_gap_us"),
    )


@query(
    "agg_benford",
    oracle="""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM c)
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
    FROM c, t GROUP BY digit, t.total
    """,
)
def agg_benford(spark, sf_dir):
    """Benford first-digit profile of order totals — the forensic
    anomaly screen (fabricated amounts flunk the log-curve). The first
    digit comes from the DECIMAL STRING of exact cents, not
    floor(x/10^floor(log10 x)): float log10 sits within 1 ulp of an
    integer exactly at the power-of-ten boundaries, where engines can
    disagree — string truncation cannot. Observed share is one exact
    division; comparing to the expected log10(1+1/d) curve is left to
    the caller (libm log10 is not bit-portable across engines)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = o.select(digit.alias("digit"))
    total = c.agg(F.count("*").alias("total"))
    return (
        c.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("total").cast("double")).alias("share"),
        )
    )


@query(
    "agg_abc_pareto",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             -- outer CAST: DuckDB SUM(BIGINT)->HUGEINT->float64 in pandas
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM lineitem GROUP BY l_partkey
    ), r AS (
      SELECT l_partkey, rev_cents,
             SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey) AS cum_cents,
             SUM(rev_cents) OVER () AS total_cents
      FROM p
    )
    SELECT l_partkey, rev_cents,
           CASE WHEN cum_cents * 10 <= total_cents * 8 THEN 'A'
                WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r
    """,
)
def agg_abc_pareto(spark, sf_dir):
    """ABC / Pareto classification: parts ranked by exact revenue
    cents, classed A (first 80% of cumulative revenue), B (to 95%),
    C (tail) — the inventory-prioritization staple. Every comparison
    is integer-exact (cum·10 ≤ total·8, never a float share), and the
    cumulative order is fully pinned (revenue desc, partkey), so class
    boundaries cannot drift between engines. One aggregation + one
    ordered window over |parts| rows — the fact table is touched once."""
    li = table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("rev_cents")
    )
    w_cum = Window.orderBy(F.desc("rev_cents"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    r = p.select(
        "l_partkey",
        "rev_cents",
        F.sum("rev_cents").over(w_cum).alias("cum_cents"),
        F.sum("rev_cents").over(w_all).alias("total_cents"),
    )
    abc = (
        F.when(F.col("cum_cents") * 10 <= F.col("total_cents") * 8, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
        .otherwise("C")
    )
    return r.select("l_partkey", "rev_cents", abc.alias("abc_class"))


@query(
    "agg_seasonality",
    oracle="""
    WITH c AS (
      SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour
      FROM events
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM c)
    SELECT dow, hour, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
    FROM c, t GROUP BY dow, hour, t.total
    """,
)
def agg_seasonality(spark, sf_dir):
    """Activity seasonality heatmap: event counts by (day-of-week ×
    hour-of-day) with global share — the load-profile matrix behind
    capacity planning and anomaly baselines. Calendar extraction is
    integer (UTC session pins both engines' EXTRACT; Sunday=0 on both
    dayofweek-1/dow conventions aligned below), counts exact, one
    division for the share."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    )
    total = c.agg(F.count("*").alias("total"))
    return (
        c.groupBy("dow", "hour")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "dow",
            "hour",
            "n",
            (F.col("n").cast("double") / F.col("total").cast("double")).alias("share"),
        )
    )


@query(
    "window_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ), t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ), r AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total FROM t GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / CAST(r.row_total AS BIGINT) AS p
    FROM t JOIN r ON t.from_type = r.from_type
    """,
)
def window_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence: consecutive (from → to) event-type pairs (lead over a
    fully pinned per-user order), counted and row-normalized — the
    behavioral-model primitive (what do users do after a click?).
    Integer counts; the row-conditional probability is one division
    mirrored in the oracle. One window pass + two tiny aggregations —
    the fact table is sorted once per user partition."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    t = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    r = t.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        t.join(F.broadcast(r), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("row_total").cast("bigint")).alias("p"),
        )
    )


@query(
    "agg_new_vs_returning",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_num
      FROM events
    ), first_day AS (
      SELECT user_id, MIN(day_num) AS d0 FROM d GROUP BY user_id
    )
    SELECT d.day_num,
           CAST(COUNT(*) FILTER (WHERE d.day_num = f.d0) AS BIGINT) AS new_events,
           CAST(COUNT(*) FILTER (WHERE d.day_num > f.d0) AS BIGINT) AS returning_events,
           CAST(COUNT(DISTINCT CASE WHEN d.day_num = f.d0 THEN d.user_id END) AS BIGINT)
             AS new_users,
           CAST(COUNT(DISTINCT CASE WHEN d.day_num > f.d0 THEN d.user_id END) AS BIGINT)
             AS returning_users
    FROM d JOIN first_day f ON d.user_id = f.user_id
    GROUP BY d.day_num
    """,
)
def agg_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning split (events and distinct users) — the
    acquisition-vs-retention lens on the activity stream: a user's
    first-seen day classifies every later event as returning. One
    per-user MIN (broadcastable |users| rows) joined back, conditional
    counts per day — all integers, co-keyed join, map-side partials."""
    ev = table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias("day_num"),
    )
    first_day = d.groupBy("user_id").agg(F.min("day_num").alias("d0"))
    j = d.join(F.broadcast(first_day), "user_id")
    is_new = F.col("day_num") == F.col("d0")
    return j.groupBy("day_num").agg(
        F.count(F.when(is_new, 1)).alias("new_events"),
        F.count(F.when(~is_new, 1)).alias("returning_events"),
        F.countDistinct(F.when(is_new, F.col("user_id"))).alias("new_users"),
        F.countDistinct(F.when(~is_new, F.col("user_id"))).alias("returning_users"),
    )


@query(
    "agg_skew_kurtosis",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(CAST(round(l_quantity * 100) AS BIGINT) AS DECIMAL(38,0)) AS q
      FROM lineitem
    ), m AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q*q) AS BIGINT) AS s2,
             CAST(SUM(q*q*q) AS BIGINT) AS s3,
             CAST(CAST(SUM(q*q*q*q) AS HUGEINT) // 1000000000 AS BIGINT) AS s4_hi,
             CAST(CAST(SUM(q*q*q*q) AS HUGEINT) % 1000000000 AS BIGINT) AS s4_lo
      FROM c GROUP BY l_returnflag
    ), d AS (
      SELECT l_returnflag, n, s1, s2, s3, s4_hi, s4_lo,
             CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
             CAST(s3 AS DOUBLE) AS s3d,
             CAST(s4_hi AS DOUBLE) * 1000000000 + CAST(s4_lo AS DOUBLE) AS s4d
      FROM m
    )
    SELECT l_returnflag, n, s1, s2, s3, s4_hi, s4_lo,
           ((s3d/n) - 3*(s1d/n)*(s2d/n) + 2*(s1d/n)*(s1d/n)*(s1d/n))
             / pow((s2d/n) - (s1d/n)*(s1d/n), 1.5) AS skewness,
           ((s4d/n) - 4*(s1d/n)*(s3d/n) + 6*(s1d/n)*(s1d/n)*(s2d/n)
             - 3*(s1d/n)*(s1d/n)*(s1d/n)*(s1d/n))
             / pow((s2d/n) - (s1d/n)*(s1d/n), 2.0) - 3 AS excess_kurtosis
    FROM d
    """,
)
def agg_skew_kurtosis(spark, sf_dir):
    """Exact higher-moment statistics — skewness and excess kurtosis per
    returnflag from EXACT power sums: quantity cents raised to the 2nd/
    3rd/4th power accumulate in DECIMAL(38,0) (the 4th-power sum passes
    int64 around sf0.05, so bigint cents — the engine's usual fast path
    — is ruled out by arithmetic, the same precision-escalation rule
    dsum documents). The 4th-power sum is REPORTED as an exact
    (hi, lo) bigint pair split at 10^9 rather than one double:
    DECIMAL(38,0)→DOUBLE conversion differs by 1 ulp between engines
    past 2^63 (observed at sf0.1), while bigint→double is correctly
    rounded everywhere — the float s4 both engines use downstream is
    rebuilt as hi·1e9 + lo, token-identically. Floats appear only in
    that rebuild and the final closed form. One scan, one
    partial+final aggregate."""
    from .core import cents

    q = cents("l_quantity").cast("decimal(38,0)")
    m = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(q).cast("bigint").alias("s1"),
            F.sum(q * q).cast("bigint").alias("s2"),
            F.sum(q * q * q).cast("bigint").alias("s3"),
            F.sum(q * q * q * q).alias("s4_dec"),
        )
        .withColumns(
            {
                "s4_hi": F.expr("CAST(s4_dec div 1000000000 AS BIGINT)"),
                "s4_lo": F.expr("CAST(s4_dec % 1000000000 AS BIGINT)"),
            }
        )
        .drop("s4_dec")
    )
    n = F.col("n")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3").cast("double")
    s4d = F.col("s4_hi").cast("double") * 1_000_000_000 + F.col("s4_lo").cast("double")
    mean = s1d / n
    var = (s2d / n) - mean * mean
    skew = ((s3d / n) - 3 * mean * (s2d / n) + 2 * mean * mean * mean) / F.pow(var, 1.5)
    kurt = (
        (s4d / n)
        - 4 * mean * (s3d / n)
        + 6 * mean * mean * (s2d / n)
        - 3 * mean * mean * mean * mean
    ) / F.pow(var, 2.0) - 3
    return m.select(
        "l_returnflag", "n", "s1", "s2", "s3", "s4_hi", "s4_lo",
        skew.alias("skewness"), kurt.alias("excess_kurtosis"),
    )


def _pagerank_oracle(n_iter: int = 3, scale: int = 1_000_000) -> str:
    base = scale - scale * 85 // 100
    txt = f"""
    WITH pairs AS (
      SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c_id,
                      's:' || CAST(l.l_suppkey AS VARCHAR) AS s_id
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), edges AS (
      SELECT c_id AS src, s_id AS dst FROM pairs
      UNION ALL
      SELECT s_id AS src, c_id AS dst FROM pairs
    ), nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT id, CAST({scale} AS BIGINT) AS pr FROM nodes)"""
    for i in range(n_iter):
        txt += f""",
    pr{i + 1} AS (
      SELECT n.id, {base} + (COALESCE(agg.s, 0) * 85) // 100 AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, SUM(p.pr // d.deg) AS s
        FROM edges e
        JOIN pr{i} p ON p.id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) agg ON agg.id = n.id)"""
    txt += f"""
    -- outer CAST: the iterated HUGEINT arithmetic renders float64 in pandas
    SELECT id, CAST(pr AS BIGINT) AS pr FROM pr{n_iter}
    """
    return txt


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank over the customer↔supplier trade graph (edge when a
    customer's order contains a supplier's line), 3 synchronous rounds
    in integer fixed-point — see operators/graph.py:pagerank_fixed for
    why floats can't give a reproducible rank on a cluster. The graph
    builds with one distinct over (custkey, suppkey) pairs; each round
    is equi-joins + one grouped bigint sum, so the iteration cost is
    3× a join-agg, never a driver-side loop over collected vertices."""
    from ..operators.graph import pagerank_fixed

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c_id"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s_id"),
        )
        .distinct()
    )
    # materialize the deduped pair list ONCE (r12): the union's two
    # branches and every consumer below (edges ×2 orientations, deg,
    # nodes, 3 PageRank rounds) each re-derived the lineitem⋈orders
    # distinct — the captured plan showed ~20 fact-table scans, 106
    # Exchanges, 0 ReusedExchange. One checkpoint + the operator's
    # edge materialization: 23.2 s → 5.6 s at sf0.1, and at 100 TB the
    # fact join runs once instead of per consumer per round.
    pairs = pairs.localCheckpoint(eager=True)
    edges = pairs.select(F.col("c_id").alias("src"), F.col("s_id").alias("dst")).unionAll(
        pairs.select(F.col("s_id").alias("src"), F.col("c_id").alias("dst"))
    )
    nodes = edges.select("src").distinct()
    return pagerank_fixed(nodes, edges, n_iter=3, materialize_edges=True)


@query(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
)
def join_lateral_topn(spark, sf_dir):
    """Correlated LATERAL join — each customer's two priciest orders,
    the SQL-standard form of per-key top-n. Catalyst decorrelates the
    lateral subquery into a ranked window over one orders shuffle (the
    same physical plan window_latest hand-writes), so the correlated
    form costs no per-customer rescan; orderkey tiebreak makes the
    LIMIT cut deterministic."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_v c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@query(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS k FROM orders
    ), r AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, CAST(COUNT(*) AS BIGINT) AS n_status
      FROM orders GROUP BY NULLIF(o_orderstatus, 'P')
    )
    SELECT l.o_orderkey, l.k, r.n_status
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def join_null_safe(spark, sf_dir):
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the pending
    status is masked to NULL on both sides, and the null-safe
    comparison still pairs those rows — a plain '=' would silently drop
    every NULL-keyed row, the classic bug when dimension keys carry
    'unknown' sentinels. Spark plans <=> as a hash-joinable equality on
    the null-wrapped key, so this stays a shuffled hash join, not a
    nested loop."""
    o = table(spark, sf_dir, "orders")
    k = F.expr("NULLIF(o_orderstatus, 'P')")
    left = o.select("o_orderkey", k.alias("k"))
    right = o.groupBy(k.alias("k")).agg(F.count("*").alias("n_status"))
    return left.join(right, left.k.eqNullSafe(right.k)).select(
        left.o_orderkey, left.k, right.n_status
    )


@query(
    "fn_recursive_cte",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT c_custkey AS custkey, c_custkey AS node, CAST(0 AS BIGINT) AS depth
      FROM customer WHERE c_custkey < 256
      UNION ALL
      SELECT custkey, node // 2 AS node, depth + 1 AS depth
      FROM chain WHERE node > 1
    )
    SELECT custkey, MAX(depth) AS depth,
           CAST(SUM(node) AS BIGINT) AS path_sum
    FROM chain GROUP BY custkey
    """,
)
def fn_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk each low-numbered
    customer up the implicit binary-tree hierarchy (parent = key / 2)
    to the root, reporting depth and path sum — the org-chart/BOM
    traversal shape. Recursion depth is data-bounded (log2 of the key
    domain, ≤8 here), so the iterative union Spark unrolls stays small;
    unbounded recursion on a 100 TB fact table is an anti-pattern —
    hierarchies belong in a dimension with a bounded level count, which
    is exactly what the WHERE bound expresses."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_rv")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS custkey, c_custkey AS node, CAST(0 AS BIGINT) AS depth
          FROM customer_rv WHERE c_custkey < 256
          UNION ALL
          SELECT custkey, node DIV 2 AS node, depth + 1 AS depth
          FROM chain WHERE node > 1
        )
        SELECT custkey, MAX(depth) AS depth,
               CAST(SUM(node) AS BIGINT) AS path_sum
        FROM chain GROUP BY custkey
        """
    )


@query(
    "agg_percentile_cont",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), sel AS (
      SELECT event_type, n,
             MIN(CASE WHEN rk = ((n-1) // 4) + 1 THEN v_c END) AS lo25,
             MIN(CASE WHEN rk = ((n-1) // 4) + 2 THEN v_c END) AS hi25,
             MIN(CASE WHEN rk = ((n-1) // 2) + 1 THEN v_c END) AS lo50,
             MIN(CASE WHEN rk = ((n-1) // 2) + 2 THEN v_c END) AS hi50,
             MIN(CASE WHEN rk = ((3*(n-1)) // 4) + 1 THEN v_c END) AS lo75,
             MIN(CASE WHEN rk = ((3*(n-1)) // 4) + 2 THEN v_c END) AS hi75
      FROM c GROUP BY event_type, n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      CAST(lo25 * (4 - ((n-1) % 4)) + COALESCE(hi25, lo25) * ((n-1) % 4) AS BIGINT)
        AS p25_u,
      CAST(lo50 * (2 - ((n-1) % 2)) * 2 + COALESCE(hi50, lo50) * ((n-1) % 2) * 2
        AS BIGINT) AS p50_u,
      CAST(lo75 * (4 - ((3*(n-1)) % 4)) + COALESCE(hi75, lo75) * ((3*(n-1)) % 4)
        AS BIGINT) AS p75_u
    FROM sel
    """,
)
def agg_percentile_cont(spark, sf_dir):
    """Exact INTERPOLATED percentiles (percentile_cont semantics) with
    no float formula: the p-quantile position (n−1)·p splits into an
    integer rank and a rational fraction with denominator 4 (or 2), so
    the interpolated value lo·(den−rem) + hi·rem is an exact integer in
    quarter-cent units — both engines compute identical bigints, where
    the textbook lo + (hi−lo)·frac in doubles is one rounding away from
    a hash mismatch. Same single windowed pass as agg_percentile_disc;
    the adjacent-rank element rides the same conditional-MIN trick."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    v_c = F.round(F.col("value") * 100).cast("bigint")
    wv = Window.partitionBy("event_type").orderBy("v_c", "event_id")
    wn = Window.partitionBy("event_type")
    c = ev.select("event_type", "event_id", v_c.alias("v_c")).withColumns(
        {"rk": F.row_number().over(wv), "n": F.count("*").over(wn)}
    )
    n1 = F.col("n") - 1

    def pick(pos):
        return F.min(F.when(F.col("rk") == pos, F.col("v_c")))

    sel = c.groupBy("event_type", "n").agg(
        pick((n1 / 4).cast("bigint") + 1).alias("lo25"),
        pick((n1 / 4).cast("bigint") + 2).alias("hi25"),
        pick((n1 / 2).cast("bigint") + 1).alias("lo50"),
        pick((n1 / 2).cast("bigint") + 2).alias("hi50"),
        pick((3 * n1 / 4).cast("bigint") + 1).alias("lo75"),
        pick((3 * n1 / 4).cast("bigint") + 2).alias("hi75"),
    )
    n1 = F.col("n") - 1
    rem25, rem50, rem75 = n1 % 4, n1 % 2, (3 * n1) % 4
    return sel.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("lo25") * (4 - rem25) + F.coalesce("hi25", "lo25") * rem25)
        .cast("bigint")
        .alias("p25_u"),
        (F.col("lo50") * (2 - rem50) * 2 + F.coalesce("hi50", "lo50") * rem50 * 2)
        .cast("bigint")
        .alias("p50_u"),
        (F.col("lo75") * (4 - rem75) + F.coalesce("hi75", "lo75") * rem75)
        .cast("bigint")
        .alias("p75_u"),
    )


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
           l_shipdate
    FROM lineitem
    """,
)
def scan_orc_roundtrip(spark, sf_dir):
    """Columnar-format breadth beyond parquet: write typed rows to ORC
    (the other first-class columnar source Spark ships with predicate
    pushdown and stats-based skipping), read them back, and match the
    originals exactly. Money travels as integer cents and the timestamp
    column exercises ORC's distinct epoch/timezone encoding — the two
    classic places a format hop silently corrupts a warehouse. At scale
    the engine treats parquet/ORC symmetrically: same scan operator,
    same PushedFilters surface."""
    from ..streaming.pipeline import scratch_dir

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
        "l_shipdate",
    )
    path = scratch_dir("orc_landing")
    li.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "scan_dpp_prune",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
      WHERE dayofweek(CAST(ts AS DATE)) = 6
    )
    SELECT CAST(e.ts AS DATE) AS event_date, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.d
    GROUP BY CAST(e.ts AS DATE), e.event_type
    """,
)
def scan_dpp_prune(spark, sf_dir):
    """DYNAMIC partition pruning — the join-driven complement of
    scan_partition_prune's static literal: the fact table is
    date-partitioned, the filter lives only on the DIM side (Saturdays
    of a date dimension), and Spark injects the dim's qualifying keys
    into the fact scan as a runtime PartitionFilter
    (dynamicpruningexpression, plan-asserted) — so a star-schema query
    at 100 TB opens only the partitions the dimension selects, without
    anyone hand-copying the filter onto the fact. Dim broadcast; fact
    never fully scanned."""
    from ..streaming.pipeline import scratch_dir

    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts", F.col("ts").cast("date").alias("event_date")
    )
    path = scratch_dir("dpp_events")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        fact.select(F.col("event_date").alias("d"))
        .distinct()
        .where(F.dayofweek("d") == 7)  # Spark: 7=Saturday; DuckDB dayofweek: 6
    )
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.d)
        .groupBy("event_date", "event_type")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# round-5: runtime-filtered shuffle join (the 100 TB big⋈selective shape)


@query(
    "join_bloom_runtime",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def join_bloom_runtime(spark, sf_dir):
    """Runtime Bloom-filter join pruning — the shape that carries a
    big-fact ⋈ selective-dim join once BOTH sides outgrow broadcast
    (Spark injects `might_contain(bloom_filter_agg(dim keys))` into the
    fact scan, so fact rows that cannot match are dropped BEFORE the
    shuffle; at 100 TB that converts an all-rows fact shuffle into a
    match-candidates-only shuffle, the same IO class as DPP but keyed
    on join values instead of partition columns — scan_dpp_prune's
    sibling). Locally the optimizer's size thresholds (10 GB probe-side
    scan) would suppress the filter, so the query lowers them and
    disables broadcast to pin the at-scale plan; session.tune restores
    the defaults at the next query's entry. The injected filter is
    semantics-free — the oracle is the plain join — and the plan shape
    (bloom_filter_agg + might_contain, no broadcast) is asserted in
    tests/unit/test_plans.py."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast(
                    "double"
                )
                / 100.0
            ).alias("revenue"),
        )
    )


@query(
    "scan_python_datasource",
    oracle="""
    SELECT record_id,
           CAST(record_id // 20 AS BIGINT) AS page_id,
           CASE record_id % 3 WHEN 0 THEN 'active' WHEN 1 THEN 'inactive'
                ELSE 'pending' END AS status,
           CAST((record_id * 2654435761) % 100000 AS BIGINT) AS amount_cents
    FROM range(0, 1000) t(record_id)
    """,
)
def scan_python_datasource(spark, sf_dir):
    """S5 as a pluggable source: the reference's cursor-paginated API
    pull (reference dags/utils/lark.py:39-69) re-expressed through the
    Python DataSource API — one InputPartition per page, so fetches run
    on executors in parallel with per-partition task retry, instead of
    the reference's (and lark/source.py's) sequential driver loop. The
    page payload is a deterministic arithmetic stand-in (no sandbox
    egress — lark/pydatasource.py docstring); the oracle replays the
    same arithmetic over range(1000), so registration, option passing,
    partition planning, schema, and per-page iteration are all under
    the hash gate."""
    from ..lark.pydatasource import PagedApiDataSource

    spark.dataSource.register(PagedApiDataSource)
    return (
        spark.read.format("paged_api")
        .option("n_pages", 50)
        .option("page_size", 20)
        .load()
    )


@query(
    "fn_collation_group",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS et,
             event_id
      FROM events
    )
    SELECT lower(et) AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS first_id
    FROM m GROUP BY lower(et)
    """,
)
def fn_collation_group(spark, sf_dir):
    """Collation-aware grouping (Spark 4 collated strings): a feed with
    drifting key casing (half the rows upper-cased here) groups under
    UTF8_LCASE so case variants land in ONE group — collation is a
    property of the comparison, carried by the type, not a lower()
    rewrite at every use site. The hash/shuffle key is the collation
    sort key, so grouping cost is identical to binary strings at any
    scale. Output keys are re-anchored to lower() + default collation
    so the oracle (which has no collation types) compares exactly."""
    ev = table(spark, sf_dir, "events")
    mixed = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("et"),
        "event_id",
    )
    return (
        mixed.groupBy(F.collate("et", "UTF8_LCASE").alias("key"))
        .agg(F.count("*").alias("n"), F.min("event_id").alias("first_id"))
        .select(
            F.lower("key").cast("string").alias("event_type"), "n", "first_id"
        )
    )


@query(
    "fn_pipe_syntax",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority HAVING COUNT(*) > 10
    """,
)
def fn_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4): the same logical plan as the ANSI
    oracle, declared as a linear |> pipeline (FROM |> WHERE |>
    AGGREGATE |> WHERE) — the composable-SQL surface for users who
    build queries incrementally. Semantically pure sugar: Catalyst
    sees the identical filter→partial-agg→final-agg plan, so every
    pushdown/partial-agg property pinned elsewhere applies verbatim."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe")
    return spark.sql(
        """
        FROM orders_pipe
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           GROUP BY o_orderpriority
        |> WHERE n_orders > 10
        """
    )


@query(
    "fn_xml_extract",
    oracle="""
    SELECT event_id, event_type AS xml_type,
           CAST(round(value * 100) AS BIGINT) AS xml_cents
    FROM events
    """,
)
def fn_xml_extract(spark, sf_dir):
    """XML ingestion surface (F2's other wire format): rows arrive as
    XML fragments and are parsed with from_xml into typed columns —
    the third semi-structured decoder beside from_json (fn_json_extract)
    and VARIANT (fn_variant_extract). The fragment is built in-flight
    from escape-free columns (event_type is a closed token set), so the
    oracle is the identity projection: any parser drift in tags, types,
    or nesting breaks the hash. from_xml is a JVM-side expression —
    whole-stage codegen, no Python — so the decode cost class matches
    from_json at any scale."""
    ev = table(spark, sf_dir, "events")
    xml = ev.select(
        "event_id",
        F.concat(
            F.lit("<r><t>"),
            F.col("event_type"),
            F.lit("</t><c>"),
            F.round(F.col("value") * 100).cast("bigint").cast("string"),
            F.lit("</c></r>"),
        ).alias("frag"),
    )
    parsed = xml.select(
        "event_id",
        F.from_xml("frag", "t STRING, c BIGINT").alias("x"),
    )
    return parsed.select(
        "event_id",
        F.col("x.t").alias("xml_type"),
        F.col("x.c").alias("xml_cents"),
    )


@query(
    "agg_sketch_rollup",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT day, n_events, exact_users,
           TRUE AS within_tolerance, TRUE AS merge_consistent
    FROM d
    UNION ALL
    SELECT 'ALL',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events),
           TRUE, TRUE
    """,
)
def agg_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch pre-aggregation — THE 100 TB distinct-count
    architecture: per-day HLL sketches of the user population are built
    once (map-side partial sketch per partition, one binary blob per
    day after the shuffle), then any rollup — here the whole-range
    total — is a sketch MERGE over blobs, never a fact re-read. Spark's
    hll_sketch_agg/hll_union_agg are Apache DataSketches HLL: hash-
    deterministic (no RNG), so merge-of-parts equals sketch-of-whole
    EXACTLY in the sparse regime (pinned at sf0.001 in
    tests/unit/test_sketch.py; past sparse promotion the two builds can
    differ inside the error envelope — observed at sf0.1). Hash-gated
    here via the tolerance-twin pattern (the agg_approx_distinct
    discipline, was rows-only until r5): the query itself computes the
    exact distinct, the tolerance verdict, and a merge-vs-whole
    consistency verdict; DuckDB (whose HLL differs) pins the exact
    counts and both booleans. The envelope is sized from the sketch's
    OWN accuracy, not wishfully: lgK=14 ⇒ rsd ≈ 1.04/√2¹⁴ ≈ 0.81%, and
    the 5%% bound is >6σ for estimate-vs-exact and >4σ for
    merged-vs-whole — scale-stable, where the original ±2%% (≈2.5σ at
    default lgK=12) FAILED 5/31 days at the 10×-twin cardinalities
    (measured round 5)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), 14).alias("sk"),
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    tol = (
        F.abs(F.col("est") - F.col("exact_users"))
        <= F.lit(0.05) * F.col("exact_users")
    ).alias("within_tolerance")
    per_day = daily.select(
        F.col("day").cast("string").alias("day"),
        "n_events",
        "exact_users",
        F.hll_sketch_estimate("sk").alias("est"),
    ).select(
        "day", "n_events", "exact_users", tol, F.lit(True).alias("merge_consistent")
    )
    whole = ev.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id").cast("string"), 14)
        ).alias("whole_est"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    total = merged.crossJoin(whole).select(
        F.lit("ALL").alias("day"),
        "n_events",
        "exact_users",
        tol,
        (
            F.abs(F.col("est") - F.col("whole_est"))
            <= F.lit(0.05) * F.col("whole_est")
        ).alias("merge_consistent"),
    )
    return per_day.unionByName(total)


@query(
    "graph_triangles",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    nv AS (SELECT CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n FROM lineitem),
    ec AS (
      SELECT o1.l_suppkey AS a, o2.l_suppkey AS b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM os o1 JOIN os o2
        ON o1.l_orderkey = o2.l_orderkey AND o1.l_suppkey < o2.l_suppkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), e AS (
      SELECT a, b FROM (
        SELECT a, b, row_number() OVER (ORDER BY n_shared DESC, a, b) AS rk
        FROM ec), nv
      WHERE rk <= 20 * n
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """,
)
def graph_triangles(spark, sf_dir):
    """Triangle counting over the supplier co-occurrence graph (edge =
    two suppliers sharing ≥2 orders) — the graph family's clustering/
    cohesion primitive beside connected components and PageRank.
    The Spark path is degree-oriented wedge counting
    (operators/graph.py::triangle_counts): orientation caps per-vertex
    wedge fan-out near √|E| so a hub vertex cannot explode the shuffle
    — the oracle enumerates ordered triples directly, proving the
    oriented plan finds the identical triangle set. Edge building
    dedups (order, supplier) first so multi-lineitem orders can't
    inflate co-occurrence weights, and the graph is DEGREE-BOUNDED by
    sparsification: only the 20·|V| strongest edges (by shared-order
    count, total-ordered with (count DESC, a, b) ties) survive.
    Co-occurrence graphs densify with data volume — at sf0.1 a fixed
    ≥2 threshold yields a 54%-complete graph and a quadratic wedge
    stage (measured 144 s) — while a top-K·|V| cap holds average
    degree ≤ 2K at ANY scale, so triangle cost stays linear in |V|.
    Spark takes the cap as TakeOrdered (no global sort); the oracle's
    window formulation proves the same edge set."""
    from ..operators.graph import triangle_counts

    li = table(spark, sf_dir, "lineitem")
    n_vertices = li.select("l_suppkey").distinct().count()
    os_ = li.select("l_orderkey", "l_suppkey").distinct()
    o1 = os_.select("l_orderkey", F.col("l_suppkey").alias("a"))
    o2 = os_.select("l_orderkey", F.col("l_suppkey").alias("b"))
    edges = (
        o1.join(o2, "l_orderkey")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .where("n_shared >= 2")
        .orderBy(F.desc("n_shared"), "a", "b")
        .limit(20 * n_vertices)
        .select("a", "b")
        # materialize the sparsified edge list ONCE (r12): it is
        # bounded (≤ 20·|V| rows) but its derivation (co-occurrence
        # self-join + agg + top-K) re-executed for every consumer in
        # triangle_counts — degree census (×2 via union), orientation
        # join, and the closure probe. Eager, multi-consumer rule.
        .localCheckpoint(eager=True)
    )
    return triangle_counts(edges)


@query(
    "fn_try_arithmetic",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id,
           CASE WHEN cents > 100 THEN NULL
                ELSE cents + 9223372036854775707 END AS try_sum,
           CASE WHEN user_id % 50 = 0 THEN NULL
                ELSE cents // (user_id % 50) END AS try_div,
           TRY_CAST(CASE WHEN event_id % 3 = 0 THEN 'not-a-number'
                         ELSE CAST(event_id AS VARCHAR) END AS BIGINT) AS try_num
    FROM c
    """,
)
def fn_try_arithmetic(spark, sf_dir):
    """ANSI-safe arithmetic surface (try_add / try_divide / try_cast):
    overflow, division by zero, and unparseable casts yield NULL
    instead of a job-killing exception — the semantics a pipeline needs
    when one poison row must not fail a 100 TB job (the non-try ANSI
    forms would; the legacy silent-wraparound forms corrupt). Overflow
    is exercised for real: cents + (int64max − 100) overflows exactly
    when cents > 100, which the oracle mirrors arithmetically since
    DuckDB's own bigint addition would raise.

    try_sum uses the range-guard CASE form rather than `try_add`
    itself — measured: codegen'd try_add costs a thrown-and-caught JVM
    exception PER OVERFLOWING ROW (Math.addExact under EvalMode=TRY;
    1.70s vs 0.22s on 100k rows where 98% overflow), so when overflow
    is the common case — poison-heavy ingest, exactly where NULL-on-
    overflow semantics matter — the declarative guard is the 100 TB
    form. try_divide/try_cast are branch-based (no exceptions) and
    measured codegen-fast, so they stay."""
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    big = F.lit(9223372036854775707).cast("bigint")  # int64max - 100
    return ev.select(
        "event_id",
        # cents ranges [0,10000]: the add overflows int64 iff cents >
        # 100, so NULL-on-overflow has the closed form below (the
        # oracle mirrors it — DuckDB's own bigint + would raise); the
        # guard means the add only ever executes on non-overflowing
        # rows, with zero exception traffic
        F.when(cents <= 100, cents + big)
        .otherwise(F.lit(None).cast("bigint"))
        .alias("try_sum"),
        F.try_divide(cents, (F.col("user_id") % 50)).cast("bigint").alias("try_div"),
        F.try_to_number(
            F.when(F.col("event_id") % 3 == 0, F.lit("not-a-number")).otherwise(
                F.col("event_id").cast("string")
            ),
            F.lit("999999999999"),
        ).cast("bigint").alias("try_num"),
    )


@query(
    "fn_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
             AS keys_csv,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey % 997 = 0
    GROUP BY o_orderpriority
    """,
)
def fn_listagg(spark, sf_dir):
    """LISTAGG with a deterministic WITHIN GROUP (ORDER BY) — the
    SQL-standard reporting aggregate (native in Spark 4.1; a bare
    listagg/collect_list concatenation without the ordered form is
    shuffle-order-dependent and would hash-mismatch between any two
    runs — array_join(array_sort(collect_list(struct))) is the
    portable fallback on older engines). Guarded to a sampled key
    set: LISTAGG over unbounded groups is an anti-pattern at any
    scale — the group payload must fit a row."""
    table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 997 == 0
    ).createOrReplaceTempView("listagg_src")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_orderkey) AS keys_csv,
               COUNT(*) AS n
        FROM listagg_src GROUP BY o_orderpriority
        """
    )


@query(
    "window_median_moving",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    )
    SELECT day, cents,
           CAST(list_extract(
             list_sort(list(cents) OVER
               (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
             CAST(ceil(CAST(least(
               CAST(row_number() OVER (ORDER BY day) AS BIGINT), 7) AS DOUBLE)
               / 2) AS BIGINT)) AS BIGINT) AS med7_cents
    FROM d
    """,
)
def window_median_moving(spark, sf_dir):
    """Trailing 7-day moving MEDIAN of daily revenue — the robust
    smoother dashboards want where a moving average chases outliers.
    Exact and engine-portable: the window's values are collected,
    sorted, and the lower median picked by rank (discrete — no
    interpolation formula to drift); integer cents end to end. The
    window is bounded (7 rows), so the collected array is O(1) per row
    — this pattern is safe exactly when the frame is small and
    explicit, the same boundary the LISTAGG guard documents."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    wn = Window.orderBy("day")
    arr = F.array_sort(F.collect_list("cents").over(w))
    k = F.ceil(F.least(F.row_number().over(wn), F.lit(7)).cast("double") / 2).cast("int")
    return d.select(
        "day", "cents", F.element_at(arr, k).cast("bigint").alias("med7_cents")
    )


@query(
    "scan_sql_ddl_roundtrip",
    oracle="""
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS cents,
           CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END AS part
    FROM events
    WHERE event_id % 2 = 1
    UNION ALL
    SELECT event_id, user_id,
           CAST(round(value * 100) AS BIGINT) + 1 AS cents, 'even' AS part
    FROM events
    WHERE event_id % 2 = 0
    """,
)
def scan_sql_ddl_roundtrip(spark, sf_dir):
    """SQL DDL/DML warehouse surface — the statements a SQL-first user
    drives the engine with: CREATE TABLE ... USING PARQUET PARTITIONED
    BY, INSERT INTO (append), and INSERT OVERWRITE restricted to one
    partition (dynamic partition overwrite: the 'even' partition is
    replaced with re-priced rows, 'odd' is untouched — the DDL twin of
    write_partition_replace, same engine conf). The oracle recomputes
    the expected end state: odd rows original, even rows re-priced
    +1 — an overwrite that leaked outside its partition or an insert
    that duplicated would break row counts or the hash."""
    from ..streaming.pipeline import fresh_name, scratch_dir

    tbl = fresh_name("ddl_rt").replace("-", "_")
    loc = scratch_dir("ddl_rt_loc")
    ev = table(spark, sf_dir, "events")
    ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.col("event_id") % 2 == 0, F.lit("even")).otherwise(F.lit("odd")).alias("part"),
    ).createOrReplaceTempView("ddl_rt_src")
    spark.sql(
        f"""CREATE TABLE {tbl} (event_id BIGINT, user_id BIGINT, cents BIGINT,
            part STRING) USING PARQUET PARTITIONED BY (part)
            LOCATION '{loc}'"""
    )
    spark.sql(f"INSERT INTO {tbl} SELECT * FROM ddl_rt_src")
    spark.sql(
        f"""INSERT OVERWRITE TABLE {tbl}
            SELECT event_id, user_id, cents + 1 AS cents, part
            FROM ddl_rt_src WHERE part = 'even'"""
    )
    out = spark.table(tbl).select("event_id", "user_id", "cents", "part")
    return out


@query(
    "agg_approx_topk",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_approx_topk(spark, sf_dir):
    """approx_top_k — the frequency-sketch sibling of the HLL rollup
    (agg_sketch_rollup): a bounded-memory heavy-hitter summary whose
    accuracy contract is EXACT whenever distinct items fit the tracked
    budget (maxItemsTracked=10000 ≫ the 5 event types here) — which is
    what lets a full oracle hash-gate a 'sketch' query: in the exact
    regime the sketch must equal the true counts. k covers every item
    so no tie-at-the-boundary can make the cut nondeterministic; rows
    come back exploded to (item, cnt) so the comparison is
    order-insensitive. At 100 TB the sketch's value is the opposite
    regime — fixed memory over unbounded key domains — where
    dq_skew_keys' exact census is the verify path."""
    table(spark, sf_dir, "events").createOrReplaceTempView("topk_src")
    return spark.sql(
        """
        SELECT t.entry.item AS item, CAST(t.entry.count AS BIGINT) AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 10)) AS entry
              FROM topk_src) t
        """
    )


# ---------------------------------------------------------------------------
# round-3 (driver) additions: mergeable set-op sketches, mergeable
# quantile sketches, footer-answered aggregate scans


@query(
    "agg_theta_setops",
    oracle="""
    SELECT
      (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
        WHERE event_type = 'click') AS click_users,
      (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
        WHERE event_type = 'view') AS view_users,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM
        (SELECT user_id FROM events WHERE event_type = 'click'
         UNION
         SELECT user_id FROM events WHERE event_type = 'view')) AS click_or_view,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM
        (SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'view')) AS click_and_view,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM
        (SELECT user_id FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'view')) AS click_not_view
    """,
)
def agg_theta_setops(spark, sf_dir):
    """Theta sketches — mergeable distinct-count state that, unlike
    HLL, supports set ALGEBRA: union, intersection and difference of
    audiences without re-reading facts (the segment-overlap question
    every audience/funnel report asks). One pass builds both sketches
    (filtered theta_sketch_agg); the set ops run on the two small
    sketch blobs. Exact-regime oracle (same contract as
    agg_approx_topk): below the sketch's nominal-entries budget a
    theta sketch retains every hash, so estimates and set ops are
    EXACT and a full COUNT-DISTINCT oracle hash-gates the query. The
    budget is set EXPLICITLY to lgK=20 (1M retained hashes, ~8 MB per
    sketch) because the default 4096 broke the exact-regime contract
    at the 10×-twin's 15,000 users — estimation mode answered 15,306
    (well inside theta's error, but the oracle pins exact); lgK=20
    holds the exact regime through the 100× twin's 150k users. The
    union gadget takes the same lgK — ITS default would downsample
    exact inputs. Margin at the 100× twin: 150k users vs the 2²⁰
    boundary = 7.0× (SURVEY §6.1 margin table) — the tightest
    volume-coupled exact regime in the registry; past ~1M distinct
    users per side the oracle contract must hand off to a σ-derived
    envelope (theta rse ≈ 1/√(k−1) ≈ 0.1% at lgK=20), exactly the
    agg_sketch_rollup treatment. At 100 TB the same plan runs in
    estimation mode with fixed memory — which is the point."""
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id")), 20
        ).alias("sk_c"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "view", F.col("user_id")), 20
        ).alias("sk_v"),
    )
    return sk.select(
        F.theta_sketch_estimate("sk_c").alias("click_users"),
        F.theta_sketch_estimate("sk_v").alias("view_users"),
        F.theta_sketch_estimate(F.theta_union("sk_c", "sk_v", 20)).alias("click_or_view"),
        F.theta_sketch_estimate(F.theta_intersection("sk_c", "sk_v")).alias(
            "click_and_view"
        ),
        F.theta_sketch_estimate(F.theta_difference("sk_c", "sk_v")).alias(
            "click_not_view"
        ),
    )


@query(
    "agg_kll_quantile",
    oracle="""
    WITH rk AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type,
           MIN(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN value END) AS q25,
           MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS median,
           MIN(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN value END) AS q75,
           TRUE AS q25_rank_ok, TRUE AS median_rank_ok, TRUE AS q75_rank_ok
    FROM rk GROUP BY event_type
    """,
)
def agg_kll_quantile(spark, sf_dir):
    """KLL quantile sketches — mergeable order-statistic state: the
    incremental/streaming answer to percentiles, where exact rank
    selection (agg_percentile_disc) needs the full sorted group.

    Rank-space tolerance twin: the EXACT inclusive-rank items (smallest
    x with rank(x) ≥ ⌈q·n⌉ — actual stored doubles, bit-identical in
    both engines) cross to the oracle, while the KLL estimates are
    audited Spark-side in the metric the sketch actually guarantees —
    RANK error: the estimate's rank interval [#(v<est)+1, #(v≤est)]
    must come within ε·n of ⌈q·n⌉. ε = 0.5%, ~40× the k=65535 design
    bound (≈0.011%), so the audit never flakes on merge-tree depth yet
    still fails a broken sketch outright. The earlier exact-regime
    contract (sketch returns the true item while ≤ k values per group)
    silently ended at the 10×-volume twin (~200k values/group → buffer
    compaction → estimate one grid step off the true item, caught
    round 7) — the same defect class SURVEY §6.1 #10 records; rank
    envelopes are the scale-proof contract. At 100 TB the same plan
    answers with ~k·log(n/k) memory per group; the audit join
    broadcasts 5 estimate rows."""
    k = F.lit(65535)
    eps = 0.005
    ev = table(spark, sf_dir, "events").select("event_type", "value")

    # exact rank items, same shape as the oracle: window rank + pivot
    w = Window.partitionBy("event_type").orderBy("value")
    rk = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )

    def item(q):
        return F.min(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        )

    exact = rk.groupBy("event_type").agg(
        item(0.25).alias("q25"), item(0.50).alias("median"), item(0.75).alias("q75")
    )

    sk = F.kll_sketch_agg_double("value", k)
    est = ev.groupBy("event_type").agg(
        F.kll_sketch_get_quantile_double(sk, F.lit(0.25)).alias("e25"),
        F.kll_sketch_get_quantile_double(sk, F.lit(0.50)).alias("e50"),
        F.kll_sketch_get_quantile_double(sk, F.lit(0.75)).alias("e75"),
    )

    audited = ev.join(F.broadcast(est), "event_type")
    aggs = [F.count("*").alias("n")]
    for q, col in ((0.25, "e25"), (0.50, "e50"), (0.75, "e75")):
        aggs.append(
            F.sum((F.col("value") <= F.col(col)).cast("bigint")).alias(f"le_{col}")
        )
        aggs.append(
            F.sum((F.col("value") < F.col(col)).cast("bigint")).alias(f"lt_{col}")
        )
    ranks = audited.groupBy("event_type").agg(*aggs)

    def rank_ok(q, col):
        target = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        slack = F.greatest(F.ceil(F.lit(eps) * F.col("n")), F.lit(2)).cast("bigint")
        return (F.col(f"le_{col}") >= target - slack) & (
            F.col(f"lt_{col}") < target + slack
        )

    verdicts = ranks.select(
        "event_type",
        rank_ok(0.25, "e25").alias("q25_rank_ok"),
        rank_ok(0.50, "e50").alias("median_rank_ok"),
        rank_ok(0.75, "e75").alias("q75_rank_ok"),
    )
    return exact.join(verdicts, "event_type").select(
        "event_type", "q25", "median", "q75",
        "q25_rank_ok", "median_rank_ok", "q75_rank_ok",
    )


@query(
    "scan_agg_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    """,
)
def scan_agg_pushdown(spark, sf_dir):
    """Footer-answered aggregation: COUNT/MIN/MAX pushed into the
    parquet scan (PushedAggregation, plan-pinned in
    tests/unit/test_plans.py) — the scan reads row-group METADATA, not
    data pages, so at 100 TB the answer costs one footer read per file
    instead of a full column scan. Needs the DSv2 parquet path
    (useV1SourceList minus parquet) + aggregatePushdown; like
    join_bloom_runtime, the overrides cannot leak — tune() re-pins the
    defaults at the top of every query wrapper."""
    import os

    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set(
        "spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text"
    )
    df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return df.agg(
        F.count("*").alias("n_rows"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "fn_winsorize",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY CAST(ROUND(value * 100) AS BIGINT)) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    b AS (
      SELECT event_type,
             MIN(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo_cents,
             MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi_cents
      FROM c GROUP BY event_type)
    SELECT c.event_type, b.lo_cents, b.hi_cents,
           CAST(SUM(CASE WHEN c.cents < b.lo_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN c.cents > b.hi_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(SUM(LEAST(GREATEST(c.cents, b.lo_cents), b.hi_cents)) AS BIGINT)
             AS winsorized_sum_cents
    FROM c JOIN b USING (event_type)
    GROUP BY c.event_type, b.lo_cents, b.hi_cents
    """,
)
def fn_winsorize(spark, sf_dir):
    """Winsorization — clip each group's tail values to exact discrete
    p05/p95 boundaries (rn = ⌈n/20⌉ / ⌈19n/20⌉, INTEGER ceiling
    division: no float percentile formula to diverge between engines),
    the robust-statistics answer to outliers that deletion (quarantine)
    and MAD-fencing (ts_mad_outlier) bracket. Integer cents end to end;
    boundaries come from one windowed pass, the clip from a broadcast
    of the 5-row bounds table."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    c = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    b = c.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("cents"))).alias(
            "lo_cents"
        ),
        F.min(
            F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("cents"))
        ).alias("hi_cents"),
    )
    clipped = ev.join(F.broadcast(b), "event_type")
    return clipped.groupBy("event_type", "lo_cents", "hi_cents").agg(
        F.sum(F.when(F.col("cents") < F.col("lo_cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_below"),
        F.sum(F.when(F.col("cents") > F.col("hi_cents"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
        F.sum(F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents")))
        .cast("bigint")
        .alias("winsorized_sum_cents"),
    )


@query(
    "scan_csv_multiline",
    oracle="""
    SELECT doc_id,
           source || ',"' || chr(10) || lang AS tricky,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def scan_csv_multiline(spark, sf_dir):
    """CSV roundtrip of adversarial content — embedded record
    delimiters (newlines), field delimiters (commas) and quote chars
    inside a quoted field, read back with multiLine=true. The oracle is
    the ORIGINAL content: any quoting/escaping loss breaks the hash.
    Scale note (the reason this is a dedicated query): multiLine=true
    makes CSV files NON-SPLITTABLE — a quoted newline means record
    boundaries can't be found mid-file, so each file becomes one task;
    at 100 TB multiline CSV must be landed as many medium files (or
    converted to parquet at ingest, the lark pipeline's approach),
    never a few huge ones."""
    import os

    from ..streaming.pipeline import scratch_dir

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("source"), F.lit(',"\n'), F.col("lang")).alias("tricky"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    path = os.path.join(scratch_dir("csv_multiline"), "data")
    docs.write.option("header", True).mode("overwrite").csv(path)
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("doc_id bigint, tricky string, n_chars bigint")
        .csv(path)
    )


@query(
    "window_fifo_allocation",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS cum
      FROM events WHERE event_type = 'click' AND user_id % 10 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)),
    p AS (
      SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS cum
      FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           CAST(LEAST(p.cum, c.cum)
                - GREATEST(p.cum - p.cents, c.cum - c.cents) AS BIGINT)
             AS allocated_cents
    FROM p JOIN c ON p.user_id = c.user_id
      AND p.cum - p.cents < c.cum AND c.cum - c.cents < p.cum
    """,
)
def window_fifo_allocation(spark, sf_dir):
    """FIFO allocation — the ledger/inventory matching primitive: each
    purchase consumes the oldest unconsumed click credit first, and the
    output says exactly which click funded how much of which purchase.
    The classic double-running-sum formulation: a row's cumulative
    interval [cum−cents, cum) on each side, matched where intervals
    overlap, allocation = interval intersection — one window pass per
    side, a per-user equi-join with a range residual (never a global
    inequality join), all integer cents. At 100 TB the join stays
    keyed on user_id; a pathological single-key ledger would need the
    interval-bucketing of join_interval_overlap."""
    ev = table(spark, sf_dir, "events").where(F.col("user_id") % 10 == 0)
    cents = F.round(F.col("value") * 100).cast("bigint")

    def side(event_type):
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            ev.where(F.col("event_type") == event_type)
            .select("user_id", "event_id", cents.alias("cents"), "ts")
            .withColumn("cum", F.sum("cents").over(w))
            .drop("ts")
        )

    c = side("click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("cents").alias("c_cents"),
        F.col("cum").alias("c_cum"),
    )
    p = side("purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("cents").alias("p_cents"),
        F.col("cum").alias("p_cum"),
    )
    j = p.join(
        c,
        (p["user_id"] == c["c_user"])
        & (p["p_cum"] - p["p_cents"] < c["c_cum"])
        & (c["c_cum"] - c["c_cents"] < p["p_cum"]),
    )
    return j.select(
        "user_id",
        "purchase_id",
        "click_id",
        (
            F.least(F.col("p_cum"), F.col("c_cum"))
            - F.greatest(
                F.col("p_cum") - F.col("p_cents"), F.col("c_cum") - F.col("c_cents")
            )
        ).alias("allocated_cents"),
    )


@query(
    "fn_business_days",
    oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d0,
             CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
               + 3 + (o_orderkey % 25) AS d1
      FROM orders)
    SELECT o_orderkey,
           d1 - d0 AS calendar_days,
           (5 * ((d1 + 4) // 7) + LEAST((d1 + 4) % 7, 5))
             - (5 * ((d0 + 4) // 7) + LEAST((d0 + 4) % 7, 5)) AS business_days
    FROM d
    """,
)
def fn_business_days(spark, sf_dir):
    """Business-day span between order date and a deterministic due
    date — weekday-only duration for SLA metrics. Pure integer
    arithmetic on epoch days (dow = (epoch_day + 4) mod 7, Thursday
    epoch): business_days = h(d1) − h(d0) with the prefix count
    h(d) = 5·⌊(d+4)/7⌋ + min((d+4) mod 7, 5) — verified against a
    brute-force day walk in tests/unit/test_ml.py; no calendar UDF,
    no timezone, engine-identical by construction."""
    d0 = F.expr("unix_micros(o_orderdate) div 86400000000")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        d0.alias("d0"),
        (d0 + 3 + (F.col("o_orderkey") % 25)).alias("d1"),
    )

    def h(d):
        # weekdays in [epoch, d): dow anchor — epoch day 0 is Thursday
        return F.lit(5) * F.expr(f"({d} + 4) div 7") + F.least(
            (F.col(d) + 4) % 7, F.lit(5)
        )

    return o.select(
        "o_orderkey",
        (F.col("d1") - F.col("d0")).alias("calendar_days"),
        (h("d1") - h("d0")).alias("business_days"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH x AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             1 + user_id % 5 AS wt
      FROM events),
    g AS (SELECT event_type, cents, CAST(SUM(wt) AS BIGINT) AS w
          FROM x GROUP BY event_type, cents),
    c AS (
      SELECT event_type, cents,
             SUM(w) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(w) OVER (PARTITION BY event_type) AS tot
      FROM g)
    SELECT event_type, CAST(MIN(cents) AS BIGINT) AS wmedian_cents
    FROM c WHERE 2 * cumw >= tot GROUP BY event_type
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Exact weighted median — the influence-weighted center (sample
    weights, importance weights, duplicated-row weights) plain median
    ignores. Rank-crossing on the (value, Σweight) census: smallest
    value whose cumulative weight reaches half the total, compared as
    2·cumw ≥ W in pure integers (no half-division, no interpolation).
    The census shuffle moves one row per DISTINCT value, not per row."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (1 + F.col("user_id") % 5).alias("wt"),
    )
    g = ev.groupBy("event_type", "cents").agg(F.sum("wt").alias("w"))
    wspec = Window.partitionBy("event_type").orderBy("cents")
    c = g.select(
        "event_type",
        "cents",
        F.sum("w")
        .over(wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cumw"),
        F.sum("w").over(Window.partitionBy("event_type")).alias("tot"),
    )
    return (
        c.where(2 * F.col("cumw") >= F.col("tot"))
        .groupBy("event_type")
        .agg(F.min("cents").alias("wmedian_cents"))
    )


@query(
    "fn_array_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
      SELECT vec_id,
             list_sort(list_transform(range(1, 65),
               i -> {'nq': -CAST(ROUND(v[i] * 1000000.0) AS BIGINT),
                     'd': CAST(i AS BIGINT)})) AS sorted
      FROM e)
    SELECT vec_id,
           -- string-join: the driver's canonicalizer cannot hash list cells
           array_to_string(
             list_transform(sorted[1:3], x -> CAST(x.d AS VARCHAR)), ',')
             AS top_dims,
           array_to_string(
             list_transform(sorted[1:3], x -> CAST(-x.nq AS VARCHAR)), ',')
             AS top_q
    FROM s
    """,
)
def fn_array_topk(spark, sf_dir):
    """Per-row top-k over an array column — the sparse-feature /
    salient-dimension extractor (top activations per embedding): build
    (−quantized_value, dim) structs, lexicographic sort_array, slice k.
    A pure narrow projection, whole-stage codegen, no shuffle; ties
    break to the lower dimension through the struct's second field in
    both engines. Values ride as micro-unit ints so the sort key is
    exact."""
    emb = table(spark, sf_dir, "embeddings")
    sorted_ = F.sort_array(
        F.expr(
            "transform(sequence(1, 64), i -> named_struct("
            "'nq', -cast(round(cast(element_at(embedding, i) as double) * 1000000.0)"
            " as bigint), 'd', cast(i as bigint)))"
        )
    )
    top3 = F.slice(sorted_, 1, 3)
    # string-joined (not arrays): driver hash needs scalar cells (r4 #2)
    return emb.select(
        "vec_id",
        F.array_join(
            F.transform(top3, lambda x: x.getField("d").cast("string")), ","
        ).alias("top_dims"),
        F.array_join(
            F.transform(top3, lambda x: (-x.getField("nq")).cast("string")), ","
        ).alias("top_q"),
    )


@query(
    "agg_topk_rollup",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_topk_rollup(spark, sf_dir):
    """Mergeable heavy-hitter rollup — the accumulate/combine/estimate
    split of approx_top_k (the frequency-sketch sibling of the HLL and
    theta rollups): one sketch per DAY, OR-merged into the monthly
    answer without re-reading facts — the materialized-view shape for
    streaming leaderboards. Exact-regime oracle (same contract as
    agg_approx_topk): every item fits the tracked budget, so
    merge-of-parts must equal the true counts bit-for-bit."""
    ev = table(spark, sf_dir, "events")
    per_day = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("approx_top_k_accumulate(event_type, 10)").alias("sk")
    )
    combined = per_day.agg(F.expr("approx_top_k_combine(sk, 10)").alias("sk"))
    return combined.select(
        F.explode(F.expr("approx_top_k_estimate(sk, 10)")).alias("e")
    ).select(
        F.col("e.item").alias("item"), F.col("e.count").cast("bigint").alias("cnt")
    )


@query(
    "window_salted_topn",
    oracle="""
    WITH ranked AS (
      SELECT event_type, event_id, user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC, event_id) AS rn
      FROM events)
    SELECT event_type, event_id, user_id, cents, rn
    FROM ranked WHERE rn <= 5
    """,
)
def window_salted_topn(spark, sf_dir):
    """Skew-proof top-n per key: the single-pass window sends a hot
    key's ENTIRE partition through one reducer's sort; the two-phase
    form first takes top-n within (key, salt) — 32 parallel partial
    sorts each bounded at n survivors — then ranks the ≤ 32·n
    survivors per key. Algebraically identical to the direct window
    for ANY data (phase 1 can only drop rows that lose to n better
    rows inside their own salt, which lose globally too), so the
    oracle is the plain top-n; the exact (cents DESC, event_id) order
    pins ties."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    n = 5
    salt = F.pmod(F.xxhash64("event_id"), F.lit(32)).alias("salt")
    phase1 = (
        ev.withColumn("salt", salt)
        .withColumn(
            "prn",
            F.row_number().over(
                Window.partitionBy("event_type", "salt").orderBy(
                    F.col("cents").desc(), "event_id"
                )
            ),
        )
        .where(F.col("prn") <= n)
        .drop("salt", "prn")
    )
    return (
        phase1.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    F.col("cents").desc(), "event_id"
                )
            ),
        )
        .where(F.col("rn") <= n)
        .select("event_type", "event_id", "user_id", "cents", "rn")
    )


@query(
    "scan_python_sink",
    oracle="""
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    """,
)
def scan_python_sink(spark, sf_dir):
    """The write half of the Python DataSource surface (S5's sink
    mirror, lark/pydatasource.py::JsonlSinkDataSource): events exported
    through `df.write.format("jsonl_sink")` — executor tasks stream to
    staging, the driver's commit() moves files in and swaps a manifest
    atomically (os.replace), and readers resolve ONLY manifest-listed
    files, so aborted or speculative writes are never visible. The
    hash gate runs on the manifest-resolved read-back, so task
    fan-out, JSON round-tripping of every value, and the commit
    protocol are all under the oracle. The reference's export leg
    (CSV landing + notify, dags/ingestion/lark_to_gcs.py) done as a
    real pluggable sink."""
    from ..lark.pydatasource import JsonlSinkDataSource, read_jsonl_sink
    from ..streaming.pipeline import scratch_dir

    spark.dataSource.register(JsonlSinkDataSource)
    out = scratch_dir("jsonl_sink_q")
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ev.write.format("jsonl_sink").option("path", out).mode("append").save()
    return read_jsonl_sink(
        spark, out, "event_id bigint, event_type string, cents bigint"
    )


@query(
    "scan_hidden_partitioning",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS q, event_id, user_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
    UNION ALL
    SELECT 2, event_id, user_id, CAST(round(value * 100) AS BIGINT)
    FROM events WHERE user_id = 77
    """,
)
def scan_hidden_partitioning(spark, sf_dir):
    """Iceberg-style hidden partitioning
    (operators/hidden_partition.py): the table's layout is derived
    from TRANSFORMS in metadata (days(ts), bucket(8, user_id)); the
    user filters ONLY data columns and the scan injects the implied
    partition predicates, so a ts range prunes day directories and a
    user_id equality prunes to one hash bucket — asserted on both
    plans' PartitionFilters (directory pruning, not just row-group
    skipping). Fixes the Hive-style leak the reference lives with
    (readers must remember the redundant partition_value filter,
    dags/utils/common/data_helper.py partition loads). At 100 TB a
    forgotten partition predicate is a full listing of the world;
    hidden partitioning makes it unforgettable."""
    from ..operators.hidden_partition import HiddenPartitionTable
    from ..streaming.pipeline import scratch_dir

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = HiddenPartitionTable(
        spark,
        scratch_dir("hidden_part"),
        [{"kind": "days", "col": "ts"}, {"kind": "bucket", "col": "user_id", "n": 8}],
    )
    t.write(ev)

    q1 = t.scan(
        [("ts", ">=", "2024-01-10 00:00:00"), ("ts", "<", "2024-01-20 00:00:00")]
    )
    q2 = t.scan([("user_id", "=", 77)])
    p1 = q1._jdf.queryExecution().executedPlan().toString()
    p2 = q2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p1 and "_p_days_ts" in p1, p1
    assert "PartitionFilters" in p2 and "_p_bucket_user_id" in p2, p2

    one = q1.select(F.lit(1).cast("bigint").alias("q"), "event_id", "user_id", "cents")
    two = q2.select(F.lit(2).cast("bigint").alias("q"), "event_id", "user_id", "cents")
    return one.unionAll(two)


@query(
    "scan_bloom_index",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_id IN (17, 971, 3003)
    """,
)
def scan_bloom_index(spark, sf_dir):
    """File-level bloom index (operators/bloom_index.py — the Delta
    bloom-index analog): the table is laid out in 16 unsorted files, so
    min/max stats and clustering can't skip anything for an event_id
    point lookup; the index stores k=7 md5-60 bit positions per file
    and a probe reads only files with all k bits set. Built in one
    distributed pass (input_file_name + explode, a k·|file-distincts|
    shuffle); probing is a tiny index aggregation. Asserted in-query:
    every lookup reads fewer files than the table has (pruning is
    real), and the final rows hash against the plain IN-list oracle (no
    false negatives — bloom misses would drop rows and fail the
    gate)."""
    from ..io import parquet_files
    from ..operators.bloom_index import bloom_candidate_files_multi, build_bloom_index
    from ..streaming.pipeline import scratch_dir

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    data = scratch_dir("bloom_data")
    idx = scratch_dir("bloom_idx")
    ev.repartition(16).write.mode("overwrite").parquet(data)
    build_bloom_index(spark, data, "event_id", idx)

    # ONE batched probe for all three lookups (bloom_candidate_files_multi):
    # the index scan amortizes over the IN-list exactly as it would over a
    # multi-key lookup batch at 100 TB — 1 probe job instead of 3
    keys = [17, 971, 3003]
    cand = bloom_candidate_files_multi(spark, idx, keys)
    n_total = len(parquet_files(data))
    for eid, files in cand.items():
        assert len(files) < n_total, (eid, len(files), n_total)  # pruning is real
    # ONE data scan over the UNION of candidate files with the IN-list
    # predicate (was: one scan per key + unionAll — N file listings and
    # N read jobs for N keys). Row-identical by the index's
    # no-false-negatives contract: every file containing rows for key k
    # is necessarily a candidate for k, so the exact IN filter recovers
    # precisely the per-key reads' rows; false-positive files cost IO
    # only, exactly as before (guide §1.2: fewer passes; the batched
    # shape is how a 100 TB multi-key lookup amortizes the scan).
    all_files = sorted({f for files in cand.values() for f in files})
    if all_files:
        rows = spark.read.parquet(*all_files).where(F.col("event_id").isin(keys))
    else:
        rows = spark.read.parquet(data).where(F.lit(False))
    return rows.select("event_id", "user_id", "event_type", "cents")


def derive_salt_factor(max_key_rows: int, target: int = 2000, cap: int = 32) -> int:
    """Salt factor for measured-skew auto-salting: k = ceil(max/target),
    clamped to [1, cap]. k=1 means "no skew vs the target" and must
    degenerate to the plain (unsalted) join plan."""
    return max(1, min(cap, -(-max_key_rows // target)))


@query(
    "join_auto_salt",
    oracle="""
    WITH dim AS (
      SELECT event_type,
             CAST(concat('0x', substr(md5(event_type), 1, 15)) AS BIGINT) % 500 + 1
               AS rate_bps
      FROM (SELECT DISTINCT event_type FROM events))
    SELECT e.event_id, e.event_type, d.rate_bps,
           CAST(round(e.value * 100) AS BIGINT) * d.rate_bps AS weighted
    FROM events e JOIN dim d USING (event_type)
    """,
)
def join_auto_salt(spark, sf_dir):
    """Measured-skew auto-salting: join_salted (2.3) hardcodes the salt
    factor; here the engine MEASURES the key histogram first (a
    census-sized aggregate — |keys| rows, here 5) and derives the salt
    k = ⌈max_key_rows / target_rows_per_task⌉ clamped to [1, 32], so a
    uniform table pays zero overhead (k=1, plan identical to the plain
    join) and a hot key is split into exactly the parallelism it
    needs. The fact side salts by row hash; the broadcast dim explodes
    ×k — algebraically the plain join for ANY k, which the oracle (the
    unsalted join) pins. This is AQE's skew-join decision re-expressed
    as an explicit, testable operator for engines/joins AQE can't
    reach (broadcast path, custom sinks)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "rate_bps",
            F.expr(
                "pmod(cast(conv(substr(md5(event_type), 1, 15), 16, 10) as bigint), 500) + 1"
            ),
        )
    )
    # measure: census of the join key (5 rows back to the driver)
    hist = ev.groupBy("event_type").count().collect()
    max_rows = max(r["count"] for r in hist)
    # k=1 (no measured skew vs the target) is a designed degenerate path:
    # salt column is constant 0 and the plan is the plain broadcast join.
    # "skew fixture ⇒ k>1" lives in tests/unit/test_auto_salt.py, not here —
    # an in-query assert would couple correctness to the scale factor.
    k = derive_salt_factor(max_rows, target=2000)

    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    )
    out = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(k)).cast("int"))
        .join(F.broadcast(salted_dim), ["event_type", "salt"])
        .select(
            "event_id",
            "event_type",
            "rate_bps",
            (F.col("cents") * F.col("rate_bps")).alias("weighted"),
        )
    )
    return out
