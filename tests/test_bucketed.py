"""Bucketed (co-located) tables: the join on the bucket key must plan
WITHOUT an Exchange on either side — the physical proof that one
bucketed write buys every later join/agg on that key shuffle-free.
Broadcast is disabled inside the assertions, since at fixture scale
Spark would otherwise broadcast the small side (also shuffle-free, but
not the layout being demonstrated).
"""

import gc
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.session import _monkey_patch_RDD

from pyspark_unload_to_gcs_spark.sources.bucketed import colocated_join, write_bucketed
from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_pair(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    orders = load_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_parquet(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    ).withColumnRenamed("c_custkey", "o_custkey")
    write_bucketed(
        orders, "t_orders_b", bucket_columns=["o_custkey"], num_buckets=4,
        path=str(base / "orders"),
    )
    write_bucketed(
        customer, "t_customer_b", bucket_columns=["o_custkey"], num_buckets=4,
        path=str(base / "customer"),
    )
    yield "t_orders_b", "t_customer_b"
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    left_t, right_t = bucketed_pair
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, left_t, right_t, on=["o_custkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unbucketed_join_does_exchange(spark, sf_dir):
    """Negative control: the same join from raw parquet shuffles."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = load_parquet(spark, f"{sf_dir}/orders.parquet")
        customer = load_parquet(spark, f"{sf_dir}/customer.parquet")
        joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
        assert "Exchange" in _plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_on_bucket_key_has_no_exchange(spark, bucketed_pair):
    left_t, _ = bucketed_pair
    agg = spark.table(left_t).groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in _plan(agg)


def test_bucketed_join_values_match_plain_join(spark, sf_dir, bucketed_pair):
    left_t, right_t = bucketed_pair
    got = (
        colocated_join(spark, left_t, right_t, on=["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    orders = load_parquet(spark, f"{sf_dir}/orders.parquet")
    customer = load_parquet(spark, f"{sf_dir}/customer.parquet")
    want = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_write_bucketed_validates_arguments(spark, sf_dir, tmp_path):
    df = load_parquet(spark, f"{sf_dir}/region.parquet")
    with pytest.raises(ValueError, match="identifier"):
        write_bucketed(df, "bad name; drop", bucket_columns=["r_regionkey"],
                       num_buckets=2, path=str(tmp_path / "x"))
    with pytest.raises(ValueError, match="num_buckets"):
        write_bucketed(df, "t_ok", bucket_columns=["r_regionkey"],
                       num_buckets=0, path=str(tmp_path / "x"))
    with pytest.raises(ValueError, match="bucket_columns"):
        write_bucketed(df, "t_ok", bucket_columns=[],
                       num_buckets=2, path=str(tmp_path / "x"))


def test_sibling_fixture_build_leaves_this_sessions_tables(spark, sf_dir):
    """The catalog is shared with ``newSession()`` siblings but each
    session's bucketed fixture files live in its own scratch root: a
    sibling's build must write its own tables, so dropping the sibling
    (which removes its files) leaves this session's row readable."""
    from pyspark_unload_to_gcs_spark import registry_scale as scale
    from pyspark_unload_to_gcs_spark.session import scratch_dir

    want = sorted(map(tuple, scale.bucketed_colocated_join(spark, sf_dir).collect()))
    mine = scale._bucketed_tables(spark, sf_dir)
    sibling = spark.newSession()
    _monkey_patch_RDD(spark)  # every SparkSession constructor re-points RDD.toDF
    theirs = scale._bucketed_tables(sibling, sf_dir)
    sibling_root = os.path.dirname(scratch_dir(sibling, "probe_"))
    assert set(theirs).isdisjoint(mine)
    del sibling
    gc.collect()
    assert not os.path.exists(sibling_root)
    try:
        for table in mine:  # drop this session's cached table relations
            spark.catalog.refreshTable(table)
        got = sorted(map(tuple, scale.bucketed_colocated_join(spark, sf_dir).collect()))
        assert got == want and want
    finally:
        for table in theirs:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_dropped_sibling_drops_its_bucketed_tables(spark, sf_dir):
    """The catalog outlives every session, the bucketed fixture's files
    do not: when a ``newSession()`` sibling is collected its scratch
    root goes, and its tables go from the shared catalog with it, so no
    session can read a table whose files are gone (it would read as
    empty, with no error)."""
    from pyspark_unload_to_gcs_spark import registry_scale as scale

    sibling = spark.newSession()
    _monkey_patch_RDD(spark)  # every SparkSession constructor re-points RDD.toDF
    theirs = scale._bucketed_tables(sibling, sf_dir)
    assert all(spark.catalog.tableExists(t) for t in theirs)
    del sibling
    gc.collect()
    left = [t for t in theirs if spark.catalog.tableExists(t)]
    for table in left:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert not left, f"tables of a collected session still in the catalog: {left}"
