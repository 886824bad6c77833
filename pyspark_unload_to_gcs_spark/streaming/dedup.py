"""Streaming ingestion dedup for at-least-once upstream sources
(Kafka replays, file redeliveries, CDC retries) — two complementary
contracts:

1. ``stream_exact_dedup`` — Spark's native
   ``dropDuplicatesWithinWatermark`` (3.5+): state is keyed by the
   dedup columns and EXPIRES once the event-time watermark passes a
   key's first-seen time + delay, so state is bounded by the
   duplicate-arrival window instead of growing with the whole stream —
   the property that matters at 100 TB/day. Plain ``dropDuplicates``
   on a stream keeps every key forever; use it only when the key space
   is small and closed.

2. ``dedup_batch_indexed`` (streamed with ``rollup.start_fold``) —
   UNBOUNDED first-write-wins with explicit versioned state, for the
   contract watermark expiry cannot give: a row may arrive again
   arbitrarily late, possibly with a MUTATED payload from a retried
   upstream job, and the FIRST accepted version must survive. Per
   micro-batch:
   - within the batch: collapse to the lowest ``sequence_column`` row
     per key (one hash shuffle on the key);
   - across batches: anti-join the collapsed batch against the
     accumulated key index (same shuffle key — exchange reuse);
   - exactly-once across RETRIES (same protocol as streaming/merge.py
     / rollup.py): key-index version ``v=<batch_id>`` derives only
     from the latest version ``< batch_id`` plus the batch rows,
     written with overwrite, so a retried batch rewrites the identical
     state instead of re-admitting rows.

   Versioned state holds only the KEY INDEX; accepted rows append to
   an insert-only table (``read_accepted``), so the payload is written
   once and never rewritten and per-batch state I/O is O(keys +
   batch), not O(corpus).

``state_path`` works on any URI scheme the cluster's Hadoop conf can
serve (file:/gs:/s3a:/hdfs:): writes go through the Spark parquet
writer and the commit-gated readbacks (``read_accepted`` and the
key index) list state through the Hadoop-FS-backed
``storage.committed_dirs``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pick import content_order, top_per_key
from pyspark_unload_to_gcs_spark.session import barrier
from pyspark_unload_to_gcs_spark.storage import child
from pyspark_unload_to_gcs_spark.streaming.rollup import (
    read_slices,
    read_state,
    write_state,
)


def stream_exact_dedup(
    events: DataFrame,
    key_columns: Sequence[str],
    *,
    time_column: str = "ts",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Drop re-deliveries of the same ``key_columns`` arriving within
    ``watermark_delay`` of the first copy (event time). Emits the FIRST
    arrival of each key; state for a key is dropped once the watermark
    passes, so a duplicate arriving later than the delay would pass
    through — choose the delay from the source's redelivery bound."""
    return events.withWatermark(time_column, watermark_delay).dropDuplicatesWithinWatermark(
        list(key_columns)
    )


def _collapse_batch(
    batch_df: DataFrame, key_columns: Sequence[str], sequence_column: str
) -> DataFrame:
    """Deterministic within-batch collapse to the lowest-sequence row
    per key: sequence alone leaves equal-(key, seq)
    rows to shuffle order, so a foreachBatch RETRY could rewrite state
    with a DIFFERENT winner — order by every remaining column after
    the sequence (NULL seqs last: an untagged row must not beat
    seq 0), through ``pick.content_order``: orderable columns keep the
    min-row contract, map-typed ones tiebreak on their content hash."""
    order = [
        F.col(sequence_column).asc_nulls_last(),
        *content_order(batch_df, [*key_columns, sequence_column]),
    ]
    return top_per_key(batch_df, key_columns, order).drop(sequence_column)


def _first_seen_rows(
    collapsed: DataFrame, prev_keys: DataFrame, key_columns: Sequence[str]
) -> DataFrame:
    """The collapsed rows whose keys are NOT in ``prev_keys`` —
    NULL-SAFE anti-join: a plain equality anti-join
    lets NULL-key rows through in EVERY batch (NULL = NULL is NULL),
    re-admitting them forever while the window collapse groups NULLs —
    eqNullSafe makes NULL a first-class key."""
    import functools

    pk = prev_keys.select(
        *[F.col(k).alias(f"__pk_{k}") for k in key_columns]
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [collapsed[k].eqNullSafe(pk[f"__pk_{k}"]) for k in key_columns],
    )
    return collapsed.join(pk, cond, "left_anti")


def dedup_batch_indexed(
    batch_df: DataFrame,
    batch_id: int,
    *,
    key_columns: Sequence[str],
    sequence_column: str,
    state_path: str,
) -> None:
    """Fold one micro-batch: admit only first-seen keys (module
    docstring, contract 2). Versioned state holds ONLY the key index
    (``<state>/keys/v=<b>`` — the narrow columns the anti-join needs),
    and accepted rows land in an append-only table
    (``<state>/accepted/b=<b>``, one idempotent overwrite per batch).
    Per-batch cost is O(keys rewrite + batch) — the PAYLOAD is written
    once and never rewritten.

    Exactly-once across retries, same protocol: both writes derive
    only from (keys@<batch_id, batch rows), so a retried batch
    rewrites the identical accepted slice and the identical key
    version — whichever of the two writes the crash interrupted."""
    spark = batch_df.sparkSession
    collapsed = _collapse_batch(batch_df, key_columns, sequence_column)
    prev_keys = read_state(spark, child(state_path, "keys"), before=batch_id)
    admitted = (
        collapsed
        if prev_keys is None
        else _first_seen_rows(collapsed, prev_keys, key_columns)
    )
    # two consumers (accepted write + key-version write) — one compute
    admitted = barrier(admitted, eager=False)
    admitted.write.mode("overwrite").parquet(
        child(child(state_path, "accepted"), f"b={batch_id}")
    )
    nxt_keys = admitted.select(*key_columns)
    if prev_keys is not None:
        nxt_keys = prev_keys.unionByName(nxt_keys)
    write_state(nxt_keys, child(state_path, "keys"), batch_id)


def read_accepted(
    spark: SparkSession, state_path: str
) -> DataFrame | None:
    """The accepted (deduped) rows: the union of every COMMITTED
    ``accepted/b=<b>`` slice (a torn write must not surface). Returns
    None before any batch committed."""
    return read_slices(spark, child(state_path, "accepted"), "b")
