"""Rolling dataset-drift monitor: per-micro-batch categorical PSI
against a BASELINE frozen at bootstrap.

The batch operator (operators/diagnostics.py ``categorical_drift_psi``)
answers "did this corpus drift between two slices?" once; a 100 TB
ingest wants that answer on EVERY arriving crawl snapshot, against the
distribution the pipeline was tuned on — not against the previous
batch, which would let slow drift ratchet invisibly (each step small,
the total unbounded). So the baseline is the batch-0 category counts,
written once and never updated; every later batch joins its own counts
against it and emits per-category PSI terms.

foreachBatch fold with the repo's exactly-once posture:
- batch 0 (re)writes ``baseline/`` idempotently (its drift row is the
  self-comparison — every term exactly 0.0, a free sanity pin);
- batch b (re)writes ``drift/b=<b>`` idempotently — a retry recomputes
  identical rows because the baseline is frozen and PSI is a
  deterministic function of (baseline counts, batch rows);
- state is bounded by K categories per batch — the monitor's cost is
  one groupBy of the batch plus a broadcast-sized join, regardless of
  corpus history.

All layout I/O goes through the versioned ledger's Hadoop-FS helpers,
so ``state_path`` works on any URI scheme the cluster can write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.storage import child


def _counts(frame: DataFrame, category_column: str) -> DataFrame:
    return frame.groupBy(category_column).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def drift_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    category_column: str,
    state_path: str,
) -> None:
    """Fold one micro-batch: freeze the baseline at batch 0, then
    (re)write this batch's per-category drift rows
    (batch_id, <category>, n_a, n_b, psi_term_r) — n_a the baseline
    count, n_b this batch's, both zero-filled across the category
    union so one-sided categories contribute finite smoothed terms."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        drift_psi_from_counts,
    )

    spark = batch_df.sparkSession
    baseline_dir = child(state_path, "baseline")
    if batch_id == 0:
        _counts(batch_df, category_column).write.mode("overwrite").parquet(
            baseline_dir
        )
    baseline = spark.read.parquet(baseline_dir).withColumnRenamed("n", "n_a")
    if batch_id == 0:
        # an empty bootstrap would freeze an EMPTY baseline: every
        # later batch emits finite smoothing-only terms that LOOK
        # computed while comparing against nothing — refuse loudly,
        # same contract as quota_mix_batch
        if baseline.isEmpty():
            raise ValueError(
                "drift_batch: bootstrap batch is empty — cannot freeze "
                "a drift baseline; start the stream once data exists"
            )
        # batch 0 is the self-comparison by construction — reuse the
        # written baseline as the current side instead of re-running
        # the batch groupBy and a vacuous self-join
        joined = baseline.select(
            category_column,
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_a").cast("long").alias("n_b"),
        )
    else:
        current = _counts(batch_df, category_column).withColumnRenamed(
            "n", "n_b"
        )
        # NULL-safe category equality: a plain full-outer equi-join
        # never matches NULL keys, splitting a NULL category into two
        # one-sided rows and drifting from the batch twin, which groups
        # NULL as ONE category
        joined = baseline.join(
            current,
            baseline[category_column].eqNullSafe(current[category_column]),
            "full",
        ).select(
            F.coalesce(
                baseline[category_column], current[category_column]
            ).alias(category_column),
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
    out = drift_psi_from_counts(joined, category_column).select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        category_column,
        "n_a",
        "n_b",
        "psi_term_r",
    )
    out.write.mode("overwrite").parquet(
        child(child(state_path, "drift"), f"b={batch_id}")
    )


def read_drift(spark: SparkSession, state_path: str) -> DataFrame | None:
    """All committed batches' drift rows as one frame (batch_id is a
    data column); None before any batch committed."""
    from pyspark_unload_to_gcs_spark.streaming.rollup import read_slices

    return read_slices(spark, child(state_path, "drift"), "b")
