"""Streaming MERGE: a continuously-maintained snapshot table, built
from ``foreachBatch`` + ``operators/cdc.apply_changes``.

This is the streaming twin of the reference's CDC export consumer: the
reference emits ``_mp_change_type`` INSERT/DELETE change rows per
incremental window (export.py:114-126) and leaves applying them to the
downstream system; here each micro-batch of change rows is folded onto
the previous snapshot version, so ``rollup.read_state`` serves the current
table state at any time without replaying history.

Within one micro-batch a key may change several times (insert, then
update = DELETE+INSERT, then delete ...). The batch is first collapsed
last-change-wins per key on a caller-named sequence column — after the
collapse there is at most one final change row per key, which is
exactly the consistent-diff shape ``apply_changes`` requires.

Exactly-once across retries (same protocol as streaming/rollup.py):
snapshot version ``v=<batch_id>`` is derived ONLY from the latest
version ``< batch_id`` plus the batch rows and written with overwrite,
so a retried batch rewrites the identical snapshot instead of
double-applying. At very large snapshots swap the versioned rewrite for
a Delta/Iceberg MERGE sink; the collapse/apply algebra is unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.cdc import (
    EXPORT_CHANGE_TYPE_COLUMN,
    INSERT,
    apply_changes,
)
from pyspark_unload_to_gcs_spark.operators.pick import top_per_key
from pyspark_unload_to_gcs_spark.streaming.rollup import read_state, write_state


def collapse_changes(
    changes: DataFrame,
    key_columns: Sequence[str],
    sequence_column: str,
    *,
    change_type_column: str = EXPORT_CHANGE_TYPE_COLUMN,
) -> DataFrame:
    """Last-change-wins per key: keep each key's highest-sequence change
    row. Equal sequence values tie-break on the change type descending —
    'INSERT' > 'DELETE' lexicographically, so an update's DELETE/INSERT
    pair collapses to its INSERT postimage. One hash shuffle on the key.
    """
    order = [F.col(sequence_column).desc(), F.col(change_type_column).desc()]
    return top_per_key(changes, key_columns, order)


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    key_columns: Sequence[str],
    sequence_column: str,
    state_path: str,
    change_type_column: str = EXPORT_CHANGE_TYPE_COLUMN,
) -> None:
    """Fold one micro-batch of change rows into the versioned snapshot.
    Deterministic in (snapshot@<batch_id, batch rows): safe on retry."""
    spark = batch_df.sparkSession
    collapsed = collapse_changes(
        batch_df, key_columns, sequence_column, change_type_column=change_type_column
    ).drop(sequence_column)
    prev = read_state(spark, state_path, before=batch_id)
    if prev is None:
        nxt = collapsed.filter(F.col(change_type_column) == INSERT).drop(
            change_type_column
        )
    else:
        nxt = apply_changes(
            prev, collapsed, list(key_columns), change_type_column=change_type_column
        )
    write_state(nxt, state_path, batch_id)
