"""Deterministic foreachBatch replay scaffold for driver-facing pins.

The streaming twins' fold functions (token-budget admission, MERGE
snapshot maintenance, incremental rollup) are exercised by registered
queries that replay a fixed batch sequence against versioned parquet
state in a scratch dir: the same fold a live stream runs under
``rollup.start_fold``, called here once per batch, committing through
the same ``rollup.write_state``. The folds are EAGER side effects, so a replay runs
once per (session, key) and its read-back frame is memoized through
``session.session_memo``: plan-only probes (test_plan_lint, the plan
digest) reread the same state instead of re-folding into a fresh
directory. One entry per session, dropped with it. The state lives in
a ``session.scratch_dir`` directory, removed when the session is
collected or at interpreter exit; the memoized DataFrame reads it
lazily and holds the session, so the files outlive every reader.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Sequence

from pyspark.sql import DataFrame, SparkSession

from pyspark_unload_to_gcs_spark.session import scratch_dir, session_memo


def replay_batches(
    spark: SparkSession,
    key: Hashable,
    batches: Sequence[DataFrame],
    fold_one: Callable[[DataFrame, int, str], None],
    read_state: Callable[[str], DataFrame],
    *,
    prefix: str,
) -> DataFrame:
    """Fold ``batches`` in order into fresh versioned state via
    ``fold_one(frame, batch_id, state_path)`` and return
    ``read_state(state_path)``, memoized for ``spark`` under ``key``.

    The folds run under the read-back schema memo
    (streaming/rollup.py ``replay_readback_memo``): every fold still
    re-reads the newest COMMITTED state — the exactly-once semantics
    the rows pin — but the state schema, a constant across one replay's
    versions, is inferred once instead of per fold."""
    from pyspark_unload_to_gcs_spark.streaming.rollup import (
        replay_readback_memo,
    )

    def build() -> DataFrame:
        state = scratch_dir(spark, prefix)
        with replay_readback_memo():
            for b, frame in enumerate(batches):
                fold_one(frame, b, state)
            return read_state(state)

    return session_memo(spark, key, build)
