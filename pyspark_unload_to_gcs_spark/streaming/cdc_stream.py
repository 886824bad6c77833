"""Incremental CDF consumption of the versioned commit stream: the
reference's CDC loop (export.py:115-128 — read the CDF window since
the checkpoint, map to INSERT/DELETE change rows, hand them to the
consumer) re-expressed as one continuously-running Structured
Streaming query instead of an orchestrated batch poll.

``cdf_merge_batch``, run with ``rollup.start_fold`` over a
``versioned_commits`` readStream, composes three existing pieces:

1. the ``versioned_commits`` Python DataSource (sources/
   versioned_stream.py) delivers each COMMITTED version exactly once
   as micro-batch rows stamped ``_commit_version`` /
   ``_commit_timestamp`` — the ledger-gated trigger AND the postimage
   data in one read;
2. inside ``foreachBatch``, per-commit change rows are derived
   JVM-side by ``operators/cdc.commit_changes`` (the per-commit diff
   loop of the batch change feeds) — the previous snapshot comes from
   the merge state (which, by induction, equals the last applied
   version), and successive versions WITHIN the batch diff against
   each other, so every version's files are read exactly once by the
   stream and never re-read from the table;
3. the change rows fold onto the maintained snapshot through the
   ``streaming/merge.py`` algebra (collapse last-change-wins on
   ``_commit_version``, then ``apply_changes``) with the
   versioned-state exactly-once protocol: state ``v=<batch_id>`` is
   derived only from state ``< batch_id`` plus the batch rows, so a
   retried batch rewrites an identical snapshot.

The emitted change rows are the reference's export shape
(``_mp_change_type`` INSERT/DELETE pairs + commit stamps); pass
``on_changes`` to export them (gzip JSON, a topic, ...) — it runs
inside the same ``foreachBatch``, so a retry re-exports the identical
frame (idempotent sinks downstream, same contract as the reference's
checkpointed window replay).

Scale posture: the diff is a key-hash join per commit, the same
``commit_changes`` kernel ``sources/versioned.change_feed`` and
``sources/delta_log.change_feed_by_diff`` run in batch; the snapshots stream
through the Python source once. On a log-backed format (Delta CDF)
the diff disappears — swap the readStream for the CDF reader and keep
``foreachBatch`` + merge unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.cdc import (
    EXPORT_CHANGE_TYPE_COLUMN,
    INSERT,
    apply_changes,
    commit_changes,
)
from pyspark_unload_to_gcs_spark.session import barrier
from pyspark_unload_to_gcs_spark.storage import (
    child,
    committed_dirs,
    read_text,
    replace_text_atomic,
)
from pyspark_unload_to_gcs_spark.streaming.merge import collapse_changes
from pyspark_unload_to_gcs_spark.streaming.rollup import read_state, write_state

_STAMPS = ("_commit_version", "_commit_timestamp")
_APPLIED_MARKER = "_APPLIED_VERSION"


def _applied_watermark(state_path: str, before: int) -> int:
    """Highest TABLE version folded into the newest committed state
    strictly before ``before`` (-1 when no state exists yet). The
    watermark is what makes empty commits safe: version enumeration
    below is ledger-driven, and the ledger alone cannot say which
    versions are already applied."""
    dirs = [d for v, d in committed_dirs(state_path, "v") if v < before]
    if not dirs:
        return -1
    text = read_text(child(dirs[-1], _APPLIED_MARKER))
    if text is None:
        # every committed state this module writes carries the marker;
        # its absence means external tampering — resetting to -1 would
        # silently re-apply history onto a non-empty state
        raise ValueError(
            f"cdf_merge_batch: state version {dirs[-1]!r} has no "
            f"{_APPLIED_MARKER} marker — the state was not written by "
            "this consumer. Start from a fresh state_path + checkpoint pair."
        )
    return int(text.strip())


def cdf_merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    table_path: str,
    key_columns: Sequence[str],
    state_path: str,
    on_changes: Callable[[DataFrame, int], None] | None = None,
) -> None:
    """Fold one commit-stream micro-batch into the maintained snapshot
    via per-commit diffs. Deterministic in (state@<batch_id, ledger,
    batch rows) — safe on retry.

    The versions to apply are enumerated from the table LEDGER between
    the state's applied-version watermark and the newest version the
    batch evidences — NOT from the batch rows alone, because an EMPTY
    commit (a legal truncation: 0 rows) contributes no rows and would
    otherwise vanish, silently losing its DELETEs while the checkpoint
    advanced. An in-range ledger version with no
    batch rows IS such an empty snapshot; its diff against the
    previous state emits the truncation. When the batch itself is
    rowless there IS no batch evidence — only versions verified
    zero-row on disk apply, and the first version with data defers to
    the batch that carries its rows (see the ``hi`` derivation).

    Version numbers are dense by construction, so a GAP in the ledger
    means vacuum outran this consumer — that raises (the Delta CDF
    fell-behind-retention contract; the batch path raises on the same
    condition). The one allowed gap is bootstrap: a consumer starting
    on a table whose early versions were vacuumed takes the oldest
    surviving version as an initial all-INSERT snapshot load — Delta's
    CDF-stream start semantics. ``state_path`` and the stream's
    checkpoint must live and die together (deleting one without the
    other resets the watermark but not the offsets, the same contract
    as every versioned-state fold in streaming/)."""
    from pyspark_unload_to_gcs_spark.sources.versioned import (
        _read_version,
        table_history,
    )

    spark = batch_df.sparkSession
    # several passes over the batch below (a stamps collect + one
    # filter per version) — a barrier pins the Python-source read FIRST
    # so the files aren't re-decoded per pass; lazy, so the stamps
    # collect is the one job that reads the source.
    # MEASURED AND REJECTED: hash-partitioning the pinned frame by the
    # merge key so the per-version diff joins share one exchange —
    # interleaved A/B (5 reps, tagged fold timings) read fold min 3.25 s
    # (as-is) vs 7.62 s (co-partitioned): a pinned repartition keeps the
    # STATIC shuffle partition count, while the joins' own exchanges
    # are AQE-coalesced to the batch's real size. At cluster scale the
    # trade reverses only when batch bytes make shuffle volume dominate;
    # revisit with a size gate if commits per batch grow.
    batch_df = barrier(batch_df, eager=False)
    # bounded collect: one (version, commit_ms) pair per commit in
    # the batch — commits per micro-batch, never data rows
    in_batch = {
        r[0]: r[1]
        for r in batch_df.select(*_STAMPS).distinct().collect()
    }
    prev_applied = _applied_watermark(state_path, batch_id)
    history = table_history(table_path)
    ledger = sorted((e["version"], e["commit_ms"]) for e in history)
    # commit-time row counts (ledger stat, recorded by
    # commit_version); None for entries written before the stat
    n_rows_by_v = {e["version"]: e.get("n_rows") for e in history}
    if in_batch:
        hi = max(in_batch)
    else:
        # A rowless batch evidences NO versions, and the ledger read
        # above happens at foreachBatch time — it can already contain
        # a DATA commit that landed after this batch's offset was
        # planned. Inferring "empty commit" from the ledger alone
        # would diff that commit as an empty snapshot (fabricated
        # truncation DELETEs) and the advanced watermark would make
        # the next batch skip its real rows — silent, permanent loss.
        # So a version is only applied from a rowless
        # batch if its snapshot is verifiably zero-row ON DISK;
        # apply stops at the first version with data (dense-order
        # contract), deferring it to the batch that carries its
        # rows. The check reads the ledger's commit-time n_rows
        # stat — ZERO Spark jobs on a rowless micro-batch, however
        # long the empty-commit backlog (a per-version isEmpty()
        # loop would serialize one job per pending version inside
        # foreachBatch); only legacy ledger entries
        # written before the stat existed fall back to isEmpty().
        hi = -1
        for v, _ms in ledger:
            if v <= prev_applied:
                continue
            n = n_rows_by_v.get(v)
            empty_on_disk = (
                n == 0
                if n is not None
                else _read_version(spark, table_path, v).isEmpty()
            )
            if empty_on_disk:
                hi = v
            else:
                break
    todo = [(v, ms) for v, ms in ledger if prev_applied < v <= hi]
    if not todo:
        return
    base_cols = [c for c in batch_df.columns if c not in _STAMPS]
    empty = batch_df.select(*base_cols).limit(0)
    prev_state = read_state(spark, state_path, before=batch_id)
    # an in-ledger version with no batch rows is an empty snapshot
    # (its one part file has zero rows); its diff emits the
    # truncation as DELETEs. A gap after the watermark raises in
    # commit_changes; with no state yet, the oldest surviving
    # version bootstraps as all-INSERTs.
    changes = commit_changes(
        prev_state if prev_state is not None else empty,
        [
            (
                v,
                ms,
                batch_df.filter(F.col("_commit_version") == v).select(*base_cols)
                if v in in_batch
                else empty,
            )
            for v, ms in todo
        ],
        key_columns,
        prev_version=prev_applied if prev_applied >= 0 else None,
    )
    if on_changes is not None:
        on_changes(changes, batch_id)
    # last-change-wins per key across the batch's commits, then one
    # apply — the streaming/merge.py algebra with the commit version
    # as the sequence column
    collapsed = collapse_changes(
        changes, key_columns, "_commit_version"
    ).drop(*_STAMPS)
    if prev_state is None:
        nxt = collapsed.filter(
            F.col(EXPORT_CHANGE_TYPE_COLUMN) == INSERT
        ).drop(EXPORT_CHANGE_TYPE_COLUMN)
    else:
        nxt = apply_changes(prev_state, collapsed, list(key_columns))
    out_dir = write_state(nxt, state_path, batch_id)
    # watermark LAST (after _SUCCESS): a crash in between replays
    # the batch, which recomputes the identical state + marker
    replace_text_atomic(child(out_dir, _APPLIED_MARKER), str(todo[-1][0]))


__all__ = ["cdf_merge_batch"]
