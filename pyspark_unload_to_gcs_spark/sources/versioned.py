"""Versioned-parquet table source: time travel, history probe, and
change feed with the SAME probe semantics as ``sources/delta.py``
(reference export.py:49-60 DESCRIBE HISTORY, :112-114 TIMESTAMP AS OF,
:115-128 CDF window) over plain parquet — no table-format dependency.

Why this exists: delta-spark is not installed where this engine is
built and tested, so S2-S4's Delta readers are import-guarded and
their runtime behavior cannot be exercised there. This module gives
the SEMANTICS runtime evidence on the format Spark always has:

- layout: ``<path>/v=<N>/`` parquet snapshot dirs (committed iff the
  ``_SUCCESS`` marker exists — ``storage.committed_dirs``, the same
  torn-write gate the streaming folds' state reads through) + an
  atomically-replaced ``_commits.json`` ledger mapping version ->
  commit epoch ms, with a create-if-absent ``_commits.lock`` claim
  serializing writers; all ledger/layout I/O goes through
  ``storage.py`` (the JVM Hadoop FileSystem API), so any URI scheme
  the cluster can write (``file:``/``hdfs:``/``gs:``/``s3a:``)
  versions identically;
- ``snapshot_at_ms`` = the newest committed version with
  ``commit_ms <= ts`` (Delta's TIMESTAMP AS OF resolution rule,
  ``operators/cdc.commit_as_of``);
- ``change_feed`` = per-commit snapshot diffs for commits inside
  ``[start_ms, end_ms]`` (the ``operators/cdc.window_changes`` kernel
  the Delta-log twin shares), each row carrying ``_commit_version`` /
  ``_commit_timestamp`` next to the export change discriminator — an
  update emits the same preimage-DELETE / postimage-INSERT pair the
  reference maps Delta CDF rows onto (export.py:121-126). A start past
  the last commit returns an EMPTY frame, mirroring the
  timestampOutOfRange conf the Delta reader sets.

Difference from a log-backed format, stated honestly: Delta reads
changes from its commit log; this source reconstructs them by diffing
adjacent snapshots, so ``change_feed`` needs the table's key columns
and costs one key-shuffle join per commit in the window. At 100 TB the
swap to Delta/Iceberg is this module's API with the log-backed readers
from ``sources/delta.py`` — call sites are unchanged.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from pyspark_unload_to_gcs_spark.operators.cdc import (
    EXPORT_CHANGE_TYPE_COLUMN,
    commit_as_of,
    window_changes,
)
from pyspark_unload_to_gcs_spark.storage import (
    child,
    committed_dirs,
    create_exclusive,
    delete,
    read_text,
    replace_text_atomic,
)

_COMMITS_FILE = "_commits.json"
_LOCK_FILE = "_commits.lock"


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed this commit first (it holds the versioned
    table's commit lock, or created the Delta commit file this writer
    meant to create) — the losing committer RAISES instead of silently
    orphaning a version (the optimistic-concurrency contract log-backed
    formats give via create-if-absent on the log entry)."""


@contextmanager
def _commit_lock(path: str, op: str):
    """Hold ``_commits.lock`` (``storage.create_exclusive``) for the
    body. The loser of a race raises ConcurrentCommitError at once — no
    blocking, no retry: the lock turns a silent lost commit into a loud
    error. A crashed writer leaves the lock behind; its owner metadata
    (op/pid/host/acquired-at), echoed in the loser's error, tells when
    deleting it by hand is safe."""
    import datetime
    import socket

    lock = child(path, _LOCK_FILE)
    owner = {
        "op": op,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "acquired_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(
            timespec="seconds"
        ),
    }
    try:
        create_exclusive(lock, json.dumps(owner))
    except FileExistsError:
        try:
            holder = read_text(lock) or "<no metadata>"
        except Exception:
            holder = "<unreadable>"
        raise ConcurrentCommitError(
            f"versioned.{op}: another writer holds {lock} "
            f"(holder: {holder.strip()}) — concurrent commits to a "
            "versioned table are serialized by this lock. If that writer "
            "crashed, delete the lockfile manually once no writer is "
            "alive."
        ) from None
    try:
        yield
    finally:
        delete(lock)


def table_history(path: str) -> list[dict]:
    """Commit history, newest first: [{"version": N, "commit_ms": ms}]
    — the DESCRIBE HISTORY analogue. Only versions whose parquet dir
    carries a ``_SUCCESS`` marker AND whose ledger entry exists count
    (the ledger is written after the data, so a crash between the two
    leaves an orphaned dir that is simply invisible, never a torn
    commit)."""
    text = read_text(child(path, _COMMITS_FILE))
    if text is None:
        return []
    ledger = json.loads(text)
    committed = {v for v, _d in committed_dirs(path, "v")}
    rows = [e for e in ledger if e["version"] in committed]
    return sorted(rows, key=lambda e: -e["version"])


def commit_version(df: DataFrame, path: str, commit_ms: int) -> int:
    """Write the next snapshot version with the given commit timestamp
    (caller-supplied, like any deterministic-replay clock in this
    repo). Data first, ledger second (``storage.replace_text_atomic``:
    write to a temp file, then rename over the ledger), so a reader
    never sees a version the data for which is incomplete.
    Commit timestamps must be non-decreasing — time travel resolves by
    timestamp, and an out-of-order commit would make ``<= ts`` pick a
    version that did not exist at ``ts``.

    CONCURRENCY: writers are serialized by a create-if-absent claim on
    ``_commits.lock`` — a second committer racing this one raises
    ConcurrentCommitError instead of silently orphaning a version
    (with last-writer-wins on the ledger, the loser's version would
    vanish from history). The intended deployment is still one orchestrator/stream per table
    (the lock is a guard, not a queue — losers raise, never wait); a
    log-backed format's optimistic CAS on the log entry is the
    upgrade path, same API."""
    with _commit_lock(path, "commit_version"):
        history = table_history(path)  # re-read under the lock
        if history and commit_ms < history[0]["commit_ms"]:
            raise ValueError(
                f"commit_version: commit_ms={commit_ms} precedes the latest "
                f"commit {history[0]['commit_ms']} — timestamps must be "
                "non-decreasing"
            )
        version = history[0]["version"] + 1 if history else 0
        out_dir = child(path, f"v={version}")
        df.write.mode("overwrite").parquet(out_dir)
        # row count from the WRITTEN files (footer-cheap column-less
        # scan — never a recompute of df's lineage), recorded in the
        # ledger so stream consumers can classify empty commits without
        # launching one isEmpty() job per pending version on every
        # rowless micro-batch. Older ledgers lack the field; readers
        # treat it as optional.
        n_rows = int(df.sparkSession.read.parquet(out_dir).count())
        ledger = sorted(
            [dict(e) for e in history]
            + [
                {
                    "version": version,
                    "commit_ms": int(commit_ms),
                    "n_rows": n_rows,
                }
            ],
            key=lambda e: e["version"],
        )
        replace_text_atomic(child(path, _COMMITS_FILE), json.dumps(ledger))
        return version


def latest_commit_timestamp_ms(path: str) -> int:
    """Most recent commit as epoch ms (reference export.py:49-60)."""
    history = table_history(path)
    if not history:
        raise ValueError(f"versioned table at {path!r} has no commits")
    return history[0]["commit_ms"]


def _read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    return spark.read.parquet(child(path, f"v={version}"))


def snapshot_at_ms(spark: SparkSession, path: str, ts_ms: int) -> DataFrame:
    """Time-travel read pinned to a commit timestamp (reference S2):
    the newest version with ``commit_ms <= ts_ms``
    (``operators/cdc.commit_as_of``). Raises if ``ts_ms`` precedes the
    first commit — same contract as Delta's TIMESTAMP AS OF."""
    entry = commit_as_of(table_history(path), ts_ms, table=path)
    return _read_version(spark, path, entry["version"])


def change_feed(
    spark: SparkSession,
    path: str,
    start_ms: int,
    end_ms: int,
    *,
    key_columns: list[str],
) -> DataFrame:
    """Change rows for every commit with ``start_ms <= commit_ms <=
    end_ms`` (reference S3 window; caller supplies the half-open +1 ms
    start, ``operators.filters.cdc_window_bounds_ms``): per commit, the
    snapshot diff against its predecessor, stamped with
    ``_commit_version`` and ``_commit_timestamp`` ms — the
    ``operators/cdc.window_changes`` feed over this table's ledger. A
    window past the last commit returns an empty frame instead of
    erroring; one spanning vacuumed history raises."""
    return window_changes(
        table_history(path),
        lambda v: _read_version(spark, path, v),
        start_ms,
        end_ms,
        key_columns=key_columns,
        table=path,
    )


__all__ = [
    "EXPORT_CHANGE_TYPE_COLUMN",
    "ConcurrentCommitError",
    "change_feed",
    "commit_version",
    "latest_commit_timestamp_ms",
    "snapshot_at_ms",
    "table_history",
    "vacuum",
]


def vacuum(path: str, *, keep_last: int) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` committed
    versions — ledger entry FIRST (readers stop resolving the version
    the moment the atomic ledger replace lands), data dirs second, so
    a crash between the two leaves only invisible orphan dirs (the
    same state a torn commit leaves, already handled by every reader).
    Time travel to a vacuumed version then raises precedes-first-commit
    — the Delta VACUUM contract — and ``change_feed`` raises for any
    window that includes the oldest surviving commit (its predecessor
    is gone, so its per-commit diff is unreconstructable), matching
    Delta CDF's error on windows spanning vacuumed history. Returns
    the dropped version numbers."""
    if keep_last < 1:
        raise ValueError(f"vacuum: keep_last={keep_last} must be >= 1")
    with _commit_lock(path, "vacuum"):
        history = table_history(path)  # newest first; under the lock
        keep = {e["version"] for e in history[:keep_last]}
        drop = sorted(e["version"] for e in history if e["version"] not in keep)
        if not drop:
            return []
        ledger = sorted(
            # dict(e), not a field whitelist: surviving entries keep
            # their optional n_rows stat
            (dict(e) for e in history if e["version"] in keep),
            key=lambda e: e["version"],
        )
        replace_text_atomic(child(path, _COMMITS_FILE), json.dumps(ledger))
        for v in drop:
            delete(child(path, f"v={v}"), recursive=True)
        return drop
