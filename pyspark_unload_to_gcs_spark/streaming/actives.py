"""Streaming rolling active users: per-day HLL sketches maintained by
``foreachBatch`` (versioned exactly-once mechanics shared with
streaming/rollup.py), DAU/WAU served from the sketch table on demand.

The state is |days| rows of ~KB mergeable sketches — user-scale work
happens once per batch (sketch the batch's user ids per day), and the
fold is a register-wise max (``hll_union_agg``), which is idempotent
for re-delivered items on top of the versioned-state retry safety.
Estimates carry standard HLL error (~2-3% at default lgConfigK).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms
from pyspark_unload_to_gcs_spark.operators.product import day_number
from pyspark_unload_to_gcs_spark.streaming.rollup import read_state, write_state


def fold_actives_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    user_column: str = "user_id",
    time_column: str = "ts",
) -> None:
    spark = batch_df.sparkSession
    batch_sketches = (
        batch_df.select(
            F.col(user_column).alias("user_id"),
            day_number(epoch_ms(batch_df, time_column)).alias("day_num"),
        )
        .groupBy("day_num")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    prev = read_state(spark, state_path, before=batch_id)
    if prev is not None:
        merged = (
            prev.unionByName(batch_sketches)
            .groupBy("day_num")
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )
    else:
        merged = batch_sketches
    write_state(merged, state_path, batch_id)


def current_rolling_actives(
    spark: SparkSession, state_path: str, *, window_days: int = 7
) -> DataFrame | None:
    """DAU + trailing-window actives from the sketch table: per-day
    estimates directly, window estimates by unioning the (tiny) sketch
    rows each window end covers — days x window merges, independent of
    user cardinality."""
    state = read_state(spark, state_path)
    if state is None:
        return None
    slots = state.select(
        "day_num",
        "sketch",
        F.explode(
            F.sequence(F.col("day_num"), F.col("day_num") + (window_days - 1))
        ).alias("d"),
    )
    merged = (
        slots.groupBy("d")
        .agg(
            F.max(F.when(F.col("day_num") == F.col("d"), 1)).alias("__observed"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("wau_approx"),
        )
        .filter(F.col("__observed") == 1)
    )
    day_est = state.select("day_num", F.hll_sketch_estimate("sketch").alias("dau_approx"))
    return (
        merged.select(F.col("d").alias("day_num"), "wau_approx")
        .join(day_est, "day_num")
        .select("day_num", "dau_approx", "wau_approx")
    )
