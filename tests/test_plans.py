"""Plan-shape regression tests: the scale posture (pushdown, pruning,
broadcast, shuffle counts) asserted on physical plans so it can't
silently regress. These are the properties that decide 100 TB behavior;
row-level correctness is covered by the oracle suite."""

import re

import pytest
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark import registry


def _plan(spark, sf_dir, name):
    return registry.queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_dims_and_takeordered(spark, sf_dir):
    p = _plan(spark, sf_dir, "q3_order_revenue")
    assert p.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in p  # lineitem join may be broadcast or shuffled-hash at this SF
    assert "TakeOrderedAndProject" in p  # top-k never global-sorts


def test_regional_revenue_star_join_broadcasts(spark, sf_dir):
    p = _plan(spark, sf_dir, "regional_revenue")
    assert p.count("BroadcastHashJoin") >= 3  # nation, region, dims


def test_full_sync_filters_pushed_to_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "full_sync_non_null")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, p
    assert "IsNotNull(c_name)" in m.group(1)
    assert "Not(EqualTo(c_name,))" in m.group(1)


def _scan_columns(plan: str) -> set[str]:
    """Column names in the FileScan output list (ReadSchema is truncated
    in plan strings; the scan's attribute list is complete)."""
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    return {c.split("#")[0] for c in m.group(1).split(",") if c}


def test_content_hash_scan_prunes_columns(spark, sf_dir):
    cols = _scan_columns(_plan(spark, sf_dir, "content_hash_lineitem"))
    assert "l_extendedprice" not in cols and "l_shipdate" not in cols
    assert "l_orderkey" in cols


def test_multimodal_meta_never_scans_payload_source_extra_columns(spark, sf_dir):
    assert _scan_columns(_plan(spark, sf_dir, "multimodal_meta")) == {"text"}


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "asof_latest_click")
    assert "Join" not in p  # union-marker construction, not a join
    assert p.count("Exchange hashpartitioning") == 1  # the window shuffle only


def test_sessionization_windows_share_one_exchange(spark, sf_dir):
    p = _plan(spark, sf_dir, "sessionization")
    assert p.count("Exchange hashpartitioning") <= 2  # window + final agg at most


def test_sargable_time_filter_no_unix_timestamp_wrapper(spark, sf_dir):
    p = _plan(spark, sf_dir, "time_based_window")
    assert "unix_timestamp" not in p


def test_aggregate_before_join_in_top_parts(spark, sf_dir):
    """The lineitem rollup must happen under the join with part (join
    input is |partkeys|, not |lineitems|)."""
    p = _plan(spark, sf_dir, "top_parts_by_revenue")
    join_pos = p.index("BroadcastHashJoin") if "BroadcastHashJoin" in p else p.index("Join")
    # a partial_sum over l_* columns must appear below (after) the join line
    partial = p.index("partial_sum")
    assert partial > join_pos


def test_big_orders_aggregates_before_joins(spark, sf_dir):
    p = _plan(spark, sf_dir, "big_orders")
    join_pos = p.index("Join")
    assert "partial_sum" in p and p.index("partial_sum") > join_pos


def test_rolling_and_sliding_single_exchange(spark, sf_dir):
    for name in ["rolling_user_value", "sliding_window_events"]:
        p = _plan(spark, sf_dir, name)
        assert p.count("Exchange hashpartitioning") == 1, name


def test_deterministic_split_is_narrow(spark, sf_dir):
    """The split itself must add no shuffle (an Exchange would mean the
    assignment depends on partitioning — nondeterministic at scale)."""
    from pyspark_unload_to_gcs_spark.operators.sampling import deterministic_split

    df = deterministic_split(registry._t(spark, sf_dir, "documents"), "doc_id")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed on the join key with equal bucket counts
    join shuffle-free — the amortized-shuffle layout for repeated
    big-big joins."""
    from pyspark_unload_to_gcs_spark.sources.bucketed import write_bucketed

    o = registry._t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = registry._t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(
        o, "b_orders", bucket_columns=["o_orderkey"], num_buckets=8, sort_columns=["o_orderkey"]
    )
    write_bucketed(
        li, "b_lineitem", bucket_columns=["l_orderkey"], num_buckets=8, sort_columns=["l_orderkey"]
    )
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: same result as the shuffled join
        assert joined.count() == registry._t(spark, sf_dir, "lineitem").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# --- skew utilities ---------------------------------------------------------


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from pyspark_unload_to_gcs_spark.operators.skew import salted_aggregate

    ev = registry._t(spark, sf_dir, "events")
    plain = {
        (r.event_type): (r.n, round(r.total, 6), r.mx)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.event_type): (r.n, round(r.total, 6), r.mx)
        for r in salted_aggregate(
            ev,
            ["event_type"],
            {
                "n": ("sum", F.count(F.lit(1))),
                "total": ("sum", F.sum(F.col("value").cast("decimal(18,6)"))),
                "mx": ("max", F.max("value")),
            },
        )
        .withColumn("total", F.col("total").cast("double"))
        .collect()
    }
    assert salted == plain


def test_skewed_keys_probe(spark, sf_dir):
    from pyspark_unload_to_gcs_spark.operators.skew import skewed_keys

    ev = registry._t(spark, sf_dir, "events")
    out = skewed_keys(ev, "event_type", min_fraction=0.1)
    rows = out.collect()
    assert len(rows) == 5  # uniform fixture: every type ~20%
    assert all(r.fraction > 0.1 for r in rows)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering (Spark 3.3+): with a selective filter
    on the orders side of a shuffled join, Catalyst injects a bloom
    filter built from the filtered side and probes it (`might_contain`)
    on the lineitem scan BEFORE the shuffle — at 100 TB this drops most
    probe-side rows pre-exchange. Thresholds are production defaults
    (10 GB application side); lowered here only to demonstrate on toy
    data. Result must equal the bloom-free plan's."""
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }

    def q():
        orders = load_parquet(spark, f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = load_parquet(spark, f"{sf_dir}/lineitem.parquet")
        return (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    expected = {(r.o_orderpriority, r.n) for r in q().collect()}

    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = q()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert {(r.o_orderpriority, r.n) for r in df.collect()} == expected
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_q17_decorrelated_single_agg_broadcast(spark, sf_dir):
    """The correlated-avg threshold must plan as agg-then-broadcast-join:
    one shuffle (the per-part aggregate), the tiny aggregate broadcast —
    never a per-row subquery or a shuffled self-join."""
    p = _plan(spark, sf_dir, "q17_small_quantity_revenue")
    assert p.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    """Catalyst must factor the OR-of-conjunctions into per-side
    residuals pushed into BOTH parquet scans (quantity ranges on
    lineitem, brand/size on part) — the join then sees pre-shrunk
    inputs."""
    p = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)", p))
    assert "LessThanOrEqual(l_quantity" in pushed
    assert "EqualTo(p_brand" in pushed
    assert p.count("BroadcastHashJoin") == 1


def test_q15_scalar_max_is_broadcast_not_global_window(spark, sf_dir):
    """The global-max filter must come from a 1-row aggregate joined by
    broadcast — a rank-over-everything window would collapse to a
    single partition at scale."""
    p = _plan(spark, sf_dir, "q15_top_supplier")
    assert "Window" not in p
    assert p.count("BroadcastHashJoin") == 2  # max-row + supplier dim


def test_user_event_gaps_one_shuffle_for_all_window_functions(spark, sf_dir):
    """lag, lead and row_number share one window spec, so the plan must
    carry exactly one hash exchange (user_id) and one Window node."""
    p = _plan(spark, sf_dir, "user_event_gaps")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 1


def test_pivot_is_single_aggregation_no_value_discovery(spark, sf_dir):
    """With pivot values listed explicitly there is no distinct-values
    job and the whole wide result comes from one partial/final
    aggregation pair."""
    p = _plan(spark, sf_dir, "pivot_returnflag_status")
    assert p.count("Exchange hashpartitioning") <= 2
    assert "Expand" not in p  # pivot lowers to conditional aggs, not grouping sets


def test_aqe_splits_skewed_join_partitions(spark):
    """With AQE skew handling on, a sort-merge join against a heavily
    skewed key must show split skew partitions (skew=true) in the final
    adaptive plan — the runtime answer to hot keys that static salting
    (operators/skew.py) solves manually. Result equivalence is asserted
    against the unskewed-config run.

    Synthetic range inputs (not the single-file parquet fixtures): skew
    splitting works at MAPPER granularity, so the skewed shuffle must be
    fed by many map tasks for AQE to have split points — true on any
    real cluster, and true for range's 32 input slices here."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "10KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }

    def q():
        # 80% of fact rows collapse onto one hot join key; pad makes the
        # hot partition's bytes unambiguous vs the thresholds above
        fact = (
            spark.range(0, 100000)
            .withColumn("k", F.when(F.col("id") % 100 < 80, F.lit(0)).otherwise(F.col("id")))
            .withColumn("pad", F.repeat(F.lit("x"), 100))
        )
        dim = spark.range(0, 100000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("tag")
        )
        return fact.join(dim, "k").groupBy("tag").agg(F.count(F.lit(1)).alias("n"))

    expected = {(r.tag, r.n) for r in q().collect()}

    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = q()
        rows = {(r.tag, r.n) for r in df.collect()}  # run first: AQE finalizes at execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert rows == expected
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
