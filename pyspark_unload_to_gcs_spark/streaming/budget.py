"""Streaming token-budget admission: build a training corpus from a
document stream, stopping when a global token budget is exhausted.

The streaming twin of ``operators/sampling.py`` token-budget selection:
the batch operator cuts a quality-ordered running total; a stream
cannot order by quality globally, so admission is greedy per
micro-batch — each batch admits its docs in deterministic ``id`` order
while the RUNNING total (spent by all previous batches) stays within
budget. The admitted set plus the spent total is the versioned state.

Semantics, exactly (PREFIX-CUT, not skip-and-continue — ADVICE r04):
- batch docs are considered in ascending ``id_column`` order;
- the batch admits its longest PREFIX whose token sum fits the
  remaining budget — once one doc overflows, every later doc in that
  batch is dropped too, even if it alone would fit (the cumulative sum
  includes non-admitted docs within the batch);
- ACROSS batches, only admitted tokens are spent: a later batch starts
  fresh from ``spent = spent + sum(admitted tokens)``, so a batch that
  admitted nothing consumes no budget.

Exactly-once across retries (same protocol as streaming/rollup.py and
streaming/merge.py): state version ``v=<batch_id>`` is derived ONLY
from the latest version ``< batch_id`` plus the batch rows and written
with overwrite, so Spark's foreachBatch retry rewrites the identical
version instead of double-admitting.

Scale note: the within-batch cumulative sum runs over a single window
partition — correct because a micro-batch increment is small by
construction (it is the stream's trigger interval of data, not the
corpus). The corpus-sized artifact is the admitted STATE, which is
only ever unioned and written, never re-sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.streaming.rollup import read_state, write_state


def admit_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    id_column: str,
    token_column: str,
    budget: int,
    state_path: str,
) -> None:
    """Fold one micro-batch into the admitted-corpus state. Deterministic
    in (state@<batch_id, batch rows): safe on foreachBatch retry."""
    spark = batch_df.sparkSession
    prev = read_state(spark, state_path, before=batch_id)
    if prev is None:
        spent = 0
        admitted_prev = None
    else:
        row = prev.agg(F.sum(token_column).alias("s")).first()
        spent = int(row.s or 0)
        admitted_prev = prev
    remaining = budget - spent

    w = Window.orderBy(F.col(id_column).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    batch = batch_df.select(id_column, token_column)
    admitted_new = (
        batch.withColumn("__cum", F.sum(token_column).over(w))
        .filter(F.col("__cum") <= F.lit(remaining))
        .drop("__cum")
    )
    out = (
        admitted_prev.unionByName(admitted_new)
        if admitted_prev is not None
        else admitted_new
    )
    write_state(out, state_path, batch_id)


def read_admitted(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The admitted corpus as of the latest committed micro-batch."""
    return read_state(spark, state_path)
