"""Streaming retention: a continuously-maintained cohort matrix via
``foreachBatch`` folding distinct (user, period) pairs into a versioned
state directory (same exactly-once mechanics as streaming/rollup.py —
state ``v=<batch_id>`` derives only from earlier versions + the batch,
so a retried batch rewrites identical state).

The state IS the mergeable form: set union of user-period pairs is
idempotent and commutative, so late events, redelivery, and batch
boundaries cannot change the matrix. Cost per batch is
O(|user-periods| + batch); the matrix is computed from state on demand
(user-scale, never raw history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark_unload_to_gcs_spark.operators.product import (
    retention_matrix_from_periods,
    user_periods,
)
from pyspark_unload_to_gcs_spark.streaming.rollup import read_state, write_state


def fold_periods_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    user_column: str = "user_id",
    time_column: str = "ts",
    period_days: int = 7,
) -> None:
    spark = batch_df.sparkSession
    batch_pairs = user_periods(
        batch_df, user_column=user_column, time_column=time_column, period_days=period_days
    )
    prev = read_state(spark, state_path, before=batch_id)
    merged = batch_pairs if prev is None else prev.unionByName(batch_pairs).distinct()
    write_state(merged, state_path, batch_id)


def current_retention_matrix(spark: SparkSession, state_path: str) -> DataFrame | None:
    state = read_state(spark, state_path)
    return None if state is None else retention_matrix_from_periods(state)


def current_growth_accounting(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Growth accounting served from the SAME folded state — one
    user-period state, multiple analytics views."""
    from pyspark_unload_to_gcs_spark.operators.product import growth_accounting_from_periods

    state = read_state(spark, state_path)
    return None if state is None else growth_accounting_from_periods(state)


__all__ = [
    "fold_periods_batch",
    "current_retention_matrix",
    "current_growth_accounting",
]
