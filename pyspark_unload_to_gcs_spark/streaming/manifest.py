"""Fixed-size training-mix manifests over a GROWING corpus.

The batch operator ``operators/sampling.quota_temperature_mix`` hands
each stratum a hard quota floor(B * n_s^tau / Σ n_t^tau) of a budget B.
In a pipeline the corpus is not static — new crawl snapshots append —
but the training-mix manifest size B is PROVISIONED once (cluster
hours, token budget) and stays fixed while the corpus grows, so each
ingest re-balances the same B across the shifting stratum counts (tail
strata gain share as the head grows; md5-rank membership makes each
batch's manifest a deterministic function of the cumulative corpus, so
two manifests for the same corpus state are identical regardless of
batch boundaries).

This module is that loop as a foreachBatch fold, the same exactly-once
posture as streaming/merge.py and streaming/dedup.py:

- every micro-batch appends its rows as ``corpus/v=<batch_id>``
  (``rollup.write_state``) and
  (re)writes ``manifest/b=<batch_id>`` — both idempotent overwrites, so
  a retried batch rewrites byte-identical state;
- the budget B is frozen at bootstrap (half the batch-0 corpus, read
  back from the WRITTEN files so a retry recomputes the identical
  number) and persisted next to the state;
- per batch the manifest is recomputed from the cumulative corpus
  (``v <= batch_id`` — a crashed later write can never leak into an
  earlier batch's view) with the SAME quota operator the batch path
  uses, so stream and batch can never drift.

At 100 TB the corpus re-read per batch is the honest cost of an exact
global quota (quotas couple every stratum through Σ n_t^tau); the scan
is column-pruned to (id, stratum) and the manifest itself is bounded by
|strata|. Pipelines that can tolerate approximate quotas should use the
rate-based ``temperature_mix`` instead — that one folds incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.storage import child, read_text, replace_text_atomic


def quota_mix_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    stratum_column: str,
    id_column: str,
    state_path: str,
    tau: float = 0.5,
) -> None:
    """Fold one micro-batch of corpus rows and (re)write this batch's
    mix manifest: (batch_id, <stratum>, n_docs, n_selected,
    sel_id_sum) — one row per stratum in the cumulative corpus, with
    the md5-rank selection fingerprinted by its exact id sum so a
    selection regression is a value failure, not a count wobble."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        quota_temperature_mix,
    )

    # budget/corpus layout I/O goes through storage.py, like the
    # versioned ledger, so state_path works on any URI scheme
    # the cluster can write (file:/hdfs:/gs:/s3a:) and the budget file
    # is replaced ATOMICALLY — a crash mid-write can never be read back
    # as a silently wrong budget
    from pyspark_unload_to_gcs_spark.streaming.rollup import (
        read_slices,
        write_state,
    )

    spark = batch_df.sparkSession
    corpus_root = child(state_path, "corpus")
    write_state(batch_df.select(id_column, stratum_column), corpus_root, batch_id)
    budget_path = child(state_path, "budget.txt")
    if batch_id == 0 or read_text(budget_path) is None:
        # bootstrap provision: half the batch-0 corpus, counted from
        # the WRITTEN files (a retry recomputes the identical B)
        n0 = spark.read.parquet(child(corpus_root, "v=0")).count()
        if n0 == 0:
            # a rowless bootstrap would freeze B=0 permanently: every
            # later manifest selects nothing while looking computed —
            # refuse loudly instead
            raise ValueError(
                "quota_mix_batch: bootstrap batch is empty — cannot "
                "provision a manifest budget; start the stream once "
                "the corpus has data"
            )
        replace_text_atomic(budget_path, str(n0 // 2))
    budget = int(read_text(budget_path))
    corpus = read_slices(spark, corpus_root, "v", through=batch_id)
    selected = quota_temperature_mix(
        corpus, stratum_column, id_column, budget=budget, tau=tau
    )
    per_stratum = selected.groupBy(stratum_column).agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.sum(F.col(id_column)).cast("long").alias("sel_id_sum"),
    )
    manifest = (
        corpus.groupBy(stratum_column)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .join(per_stratum, stratum_column, "left")
        .select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            stratum_column,
            "n_docs",
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("long").alias(
                "n_selected"
            ),
            F.coalesce(F.col("sel_id_sum"), F.lit(0)).cast("long").alias(
                "sel_id_sum"
            ),
        )
    )
    manifest.write.mode("overwrite").parquet(
        child(child(state_path, "manifest"), f"b={batch_id}")
    )


def read_manifests(spark: SparkSession, state_path: str) -> DataFrame | None:
    """All committed batches' manifests as one frame (batch_id is a
    data column); None before any batch committed."""
    from pyspark_unload_to_gcs_spark.streaming.rollup import read_slices

    return read_slices(spark, child(state_path, "manifest"), "b")
