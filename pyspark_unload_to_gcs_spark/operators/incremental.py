"""Incremental aggregate-state maintenance — the rollup counterpart of
the reference's incremental export model (SURVEY.md §3: orchestrator-
driven micro-batches over watermark windows, `export.py:131-158`).

Instead of re-exporting raw rows per window, a 100 TB deployment keeps
a per-key *mergeable state* table (count / decimal sum / min / max) and
folds each new window into it: the merge input is |keys| rows + one
batch, never the full history. The states are commutative monoids, so
window splits, retries, and out-of-order arrival all merge to the same
result — `incremental_rollup_merge` in the registry proves the
associativity against a direct full-scan aggregation oracle.

All state columns are exact (BIGINT counts, DECIMAL sums), so merged
results are bit-identical to a one-shot aggregation regardless of how
the input was windowed.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pick import top_per_key

STATE_DEC = "decimal(28,6)"


def aggregate_state(
    df: DataFrame, keys: Sequence[str], value_column: str
) -> DataFrame:
    """Partial-aggregate one batch/window into per-key mergeable state:
    (state_cnt, state_sum, state_min, state_max). This is the map-side
    half of an aggregation made explicit and persistent — Catalyst
    still plans its own partial+final split *within* the batch."""
    v = F.col(value_column)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("state_cnt"),
        F.sum(v.cast(STATE_DEC)).alias("state_sum"),
        F.min(v).alias("state_min"),
        F.max(v).alias("state_max"),
    )


def merge_aggregate_states(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Fold any number of state tables into one: union + re-aggregate
    with each component's merge function (sum∘sum, min∘min, max∘max).
    Associative and commutative — window boundaries can't change the
    result. Cost is O(|keys| × windows), independent of raw row count."""
    unioned = reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy(*keys).agg(
        F.sum("state_cnt").alias("state_cnt"),
        F.sum("state_sum").alias("state_sum"),
        F.min("state_min").alias("state_min"),
        F.max("state_max").alias("state_max"),
    )


def finalize_state(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Project the user-facing aggregate view out of the state table
    (the only lossy step — avg is derived sum/cnt, never stored)."""
    return state.select(
        *keys,
        F.col("state_cnt").alias("n_rows"),
        F.col("state_sum").cast("double").alias("total"),
        F.col("state_min").alias("min_value"),
        F.col("state_max").alias("max_value"),
        (F.col("state_sum").cast("double") / F.col("state_cnt")).alias("avg_value"),
    )


def topk_state(
    df: DataFrame,
    keys: Sequence[str],
    value_column: str,
    id_column: str,
    k: int,
) -> DataFrame:
    """Per-key mergeable TOP-K state: a sorted array of the k largest
    (value, id) structs (ties broken id-descending — the same order
    struct comparison yields, so batch and merge agree bit-for-bit).

    Bounded before collection: a per-key ``row_number`` keeps only k
    rows per key ahead of ``collect_list``, so state size is O(k) per
    key no matter how large the batch — the window and the groupBy
    share one hash partitioning (single Exchange). The states form a
    commutative monoid under ``merge_topk_states`` (echoing the
    incremental interactive top-k literature): any window split,
    retry, or arrival order merges to the same top-k.
    """
    staged = df.select(*keys, F.col(value_column).alias("v"), F.col(id_column).alias("id"))
    bounded = top_per_key(staged, keys, [F.col("v").desc(), F.col("id").desc()], k)
    s = F.struct(F.col("v"), F.col("id"))
    return bounded.groupBy(*keys).agg(
        F.slice(F.sort_array(F.collect_list(s), asc=False), 1, k).alias("state_topk")
    )


def merge_topk_states(states: Sequence[DataFrame], keys: Sequence[str], k: int) -> DataFrame:
    """Fold top-k state tables: per key, concatenate candidate arrays,
    re-sort descending, keep k. Pure array expressions — merge cost is
    O(|keys| × windows × k), never touches raw rows."""
    unioned = reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy(*keys).agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("state_topk")), asc=False), 1, k
        ).alias("state_topk")
    )


def finalize_topk(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Explode the state array to user-facing (keys, rank, id, value)
    rows; rank 1 = largest value."""
    exploded = state.select(
        *keys, F.posexplode("state_topk").alias("__pos", "__s")
    )
    return exploded.select(
        *keys,
        (F.col("__pos") + 1).cast("bigint").alias("rank"),
        F.col("__s.id").alias("id"),
        F.col("__s.v").alias("value"),
    )
