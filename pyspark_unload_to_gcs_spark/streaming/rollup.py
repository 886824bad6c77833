"""Streaming incremental rollup: a continuously-maintained aggregate
table, built from ``foreachBatch`` + the mergeable aggregate states of
``operators/incremental.py``.

Each micro-batch is partial-aggregated to per-key state (count /
exact-decimal sum / min / max) and folded into the previous state —
cost per batch is O(|keys| + batch), never O(history). This is the
streaming materialized-view counterpart of the reference's
orchestrator-driven incremental export loop (export.py:131-158): the
watermark lives in the stream checkpoint, the rollup state in a
versioned parquet directory.

Exactly-once across retries: state version ``v=<batch_id>`` is derived
ONLY from version ``max(v) < batch_id`` plus the batch rows, and is
written with overwrite — a retried batch rewrites the identical state
instead of double-counting (``fold_batch`` is deterministic in
(prev_state, batch)). At very large key cardinality swap the rewrite
for a Delta/Iceberg MERGE; the state algebra is unchanged.

This module also holds that protocol for every versioned-state fold
in ``streaming/``: ``write_state`` commits a version, ``read_state``
reads the latest committed one (``read_slices`` the union of an
append-only log), both gated by ``storage.committed_dirs``,
and ``start_fold`` runs any fold as an ``availableNow`` stream.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from pyspark_unload_to_gcs_spark.operators.incremental import (
    aggregate_state,
    merge_aggregate_states,
)
from pyspark_unload_to_gcs_spark.storage import child, committed_dirs


# Per-REPLAY-INVOCATION read-back schema memo: every fold re-reads the newest committed state —
# that read-back IS the exactly-once semantics and stays — but
# spark.read.parquet() re-infers the schema from footers on every
# call (~130-200 ms measured vs ~30-55 ms with a pinned schema).
# Within ONE replay invocation the state schema is a constant: each
# fold derives v_b from v_{b-1} with a fixed-output-schema algebra,
# so the schema inferred on the first read-back can be pinned for the
# rest of that invocation. The memo is None outside
# ``replay_readback_memo`` — production streaming folds (which can
# race, restart, or evolve schemas across runs) never see it, and it
# is keyed per state_path so concurrent paths cannot cross. The
# replay loops are single-threaded by construction (the scaffold in
# streaming/replay.py), which is the only context that activates it.
_READBACK_SCHEMAS: dict | None = None


class replay_readback_memo:
    """Context manager activating the read-back schema memo above for
    one replay invocation. Re-entrant (nested scopes keep the outer
    memo)."""

    def __enter__(self):
        global _READBACK_SCHEMAS
        self._outer = _READBACK_SCHEMAS
        if _READBACK_SCHEMAS is None:
            _READBACK_SCHEMAS = {}
        return self

    def __exit__(self, *exc):
        global _READBACK_SCHEMAS
        if self._outer is None:
            _READBACK_SCHEMAS = None
        return False


def read_state(spark: SparkSession, state_path: str, *, before: int | None = None) -> DataFrame | None:
    """Latest committed state (optionally: latest strictly before a
    batch id, which is what a retrying batch must fold onto)."""
    dirs = [
        (v, d)
        for v, d in committed_dirs(state_path, "v")
        if before is None or v < before
    ]
    if not dirs:
        return None
    if _READBACK_SCHEMAS is not None:
        pinned = _READBACK_SCHEMAS.get(state_path)
        if pinned is not None:
            return spark.read.schema(pinned).parquet(dirs[-1][1])
        out = spark.read.parquet(dirs[-1][1])
        _READBACK_SCHEMAS[state_path] = out.schema
        return out
    return spark.read.parquet(dirs[-1][1])


def write_state(df: DataFrame, state_path: str, batch_id: int) -> str:
    """Commit ``df`` as state version ``v=<batch_id>`` and return its
    directory — the one writer of versioned fold state. Overwrite, so a
    retried batch rewrites the identical version; the committer's
    ``_SUCCESS`` (written last) is the mark ``committed_dirs`` gates
    every read on."""
    out = child(state_path, f"v={batch_id}")
    df.write.mode("overwrite").parquet(out)
    return out


def read_slices(
    spark: SparkSession, root: str, prefix: str, *, through: int | None = None
) -> DataFrame | None:
    """Union of every committed ``<prefix>=<n>`` dir under ``root``
    (only ``n <= through`` when given); None before the first commit.
    Serves the append-only logs (``b=`` slices, closed-session and
    corpus ``v=`` logs) where ``read_state`` serves the latest version."""
    dirs = [d for n, d in committed_dirs(root, prefix) if through is None or n <= through]
    return spark.read.parquet(*dirs) if dirs else None


def start_fold(
    stream_df: DataFrame,
    fold: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str,
):
    """Drain everything ``stream_df`` has available through
    ``fold(batch_df, batch_id)`` and stop (``availableNow``: one run is
    the replacement for one orchestrated incremental export); returns
    the StreamingQuery. Bind a fold's options with
    ``functools.partial``."""
    return (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    keys: Sequence[str],
    value_column: str,
    state_path: str,
) -> None:
    """Fold one micro-batch into the versioned state. Deterministic in
    (state@<batch_id, batch rows): safe to re-run on Spark's
    foreachBatch retry."""
    spark = batch_df.sparkSession
    batch_state = aggregate_state(batch_df, keys, value_column)
    prev = read_state(spark, state_path, before=batch_id)
    merged = (
        merge_aggregate_states([prev, batch_state], keys) if prev is not None else batch_state
    )
    write_state(merged, state_path, batch_id)
