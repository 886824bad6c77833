"""Change-data-capture operators.

Parity targets (SURVEY.md §2a S2-S4, §2c P2-P3; reference
export.py:103-128):
- first sync: snapshot-at-timestamp with a literal 'INSERT' change type;
- incremental: change-feed rows with Delta ``_change_type`` mapped to
  the export discriminator ``_mp_change_type``.

Real Delta CDF requires delta-spark, which is optional here: the
mapping/planning logic is Delta-independent and tested on in-memory
frames; ``sources/delta.py`` wires the actual Delta readers behind an
import guard.

The change-feed kernel for tables without a change log lives here too,
written once for every source: ``commit_as_of`` (the TIMESTAMP AS OF
rule over a commit history), ``commit_changes`` (the per-commit diff
loop) and ``window_changes`` (the ``[start_ms, end_ms]`` feed over a
history and a version reader). ``sources/versioned.py``,
``sources/delta_log.py`` and ``streaming/cdc_stream.py`` call them.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pick import orderable

CHANGE_TYPE_COLUMN = "_change_type"
EXPORT_CHANGE_TYPE_COLUMN = "_mp_change_type"
INSERT = "INSERT"
DELETE = "DELETE"


def change_type_expr(source_col: Column) -> Column:
    """Delta CDF change type -> export discriminator (reference
    export.py:121-126): insert/update_postimage -> INSERT,
    update_preimage -> DELETE, anything else -> DELETE."""
    return (
        F.when(source_col == "update_postimage", F.lit(INSERT))
        .when(source_col == "update_preimage", F.lit(DELETE))
        .when(source_col == "insert", F.lit(INSERT))
        .otherwise(F.lit(DELETE))
    )


def change_type_mapping(
    df: DataFrame,
    source_column: str = CHANGE_TYPE_COLUMN,
    output_column: str = EXPORT_CHANGE_TYPE_COLUMN,
) -> DataFrame:
    """Append ``_mp_change_type`` derived from a CDF change-type column.

    The output column is prepended (reference emits it first:
    ``SELECT CASE ... END as _mp_change_type, *``).
    """
    mapped = change_type_expr(F.col(source_column))
    return df.select(mapped.alias(output_column), "*")


def snapshot_as_inserts(df: DataFrame, output_column: str = EXPORT_CHANGE_TYPE_COLUMN) -> DataFrame:
    """First-sync snapshot: every row is an INSERT (reference
    export.py:112-114, ``SELECT 'INSERT' as _mp_change_type, *``)."""
    return df.select(F.lit(INSERT).alias(output_column), "*")


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key_columns: list[str],
    *,
    change_type_column: str = EXPORT_CHANGE_TYPE_COLUMN,
    broadcast_changes: bool = True,
) -> DataFrame:
    """MERGE: apply a change batch in the reference's export model
    (``_mp_change_type`` INSERT/DELETE rows, export.py:114-126) onto a
    snapshot, producing the next snapshot. An update arrives as a
    DELETE(preimage) + INSERT(postimage) pair for the same key, exactly
    what ``snapshot_diff`` (and Delta CDF) emits — so the round-trip
    identity ``apply_changes(old, snapshot_diff(old, new)) == new``
    holds and is oracle-checked (registry ``cdc_apply_changes``).

    Plan (100 TB posture): the change batch of one incremental window is
    tiny relative to the snapshot, so the touched-key set broadcasts
    into a LEFT ANTI join — the snapshot (the big side) is scanned once
    and never shuffled; INSERT rows are unioned in column-aligned. Set
    ``broadcast_changes=False`` for backfill-sized batches, which fall
    back to a shuffled anti-join on the key.
    """
    missing = [c for c in snapshot.columns if c not in changes.columns]
    if missing:
        raise ValueError(f"change batch lacks snapshot columns: {missing}")
    touched = changes.select(*key_columns).distinct()
    if broadcast_changes:
        touched = F.broadcast(touched)
    kept = snapshot.join(touched, on=key_columns, how="left_anti")
    inserts = changes.filter(F.col(change_type_column) == INSERT).select(*snapshot.columns)
    return kept.unionByName(inserts)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_columns: list[str],
    *,
    output_column: str = EXPORT_CHANGE_TYPE_COLUMN,
) -> DataFrame:
    """Engine extension: CDC without a change log — diff two snapshots
    of the same table into the reference's change-row model. An updated
    key emits BOTH a DELETE (old values) and an INSERT (new values),
    exactly like a Delta CDF update_preimage/update_postimage pair
    (reference export.py:121-126); adds/removes emit one row.

    A key counts as changed when any value column IS DISTINCT FROM its
    old value: a null-safe ``<=>`` per column, through ``to_json`` for
    the columns ``pick.orderable`` rejects (``<=>`` on a MAP is an
    AnalysisException). A row hash would miss collisions such as
    ``("a|b", "c")`` vs ``("a", "b|c")``.

    Plan: one full-outer join on the key columns; a literal marker per
    side tells a missing row from an all-NULL one. One shuffle per side
    on the key; unchanged rows are dropped before the union, so output
    size is O(changes).
    """
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    value_cols = [c for c in old.columns if c not in key_columns]

    def value(side: str, c: str) -> Column:
        col = F.col(f"{side}.{c}")
        return col if orderable(old.schema[c].dataType) else F.to_json(col)

    o = old.withColumn("__e", F.lit(True)).alias("o")
    n = new.withColumn("__e", F.lit(True)).alias("n")
    joined = o.join(n, on=key_columns, how="full_outer")
    o_exists = F.col("o.__e").isNotNull()
    n_exists = F.col("n.__e").isNotNull()
    same = [value("o", c).eqNullSafe(value("n", c)) for c in value_cols]
    changed = o_exists & n_exists & ~reduce(Column.__and__, same, F.lit(True))

    deletes = joined.filter((o_exists & ~n_exists) | changed).select(
        F.lit(DELETE).alias(output_column),
        *[F.col(c) for c in key_columns],
        *[F.col(f"o.{c}").alias(c) for c in value_cols],
    )
    inserts = joined.filter((~o_exists & n_exists) | changed).select(
        F.lit(INSERT).alias(output_column),
        *[F.col(c) for c in key_columns],
        *[F.col(f"n.{c}").alias(c) for c in value_cols],
    )
    return deletes.unionByName(inserts)


def commit_as_of(history: Sequence[dict], ts_ms: int, *, table: str) -> dict:
    """The TIMESTAMP AS OF rule: the history entry with the highest
    ``version`` whose ``commit_ms <= ts_ms`` (entries with no commit
    time never resolve). ``history`` may come in any order. Pure
    Python over the history list, no Spark call, so it also serves the
    py4j-less workers the versioned DataSource plans in. Raises when
    ``ts_ms`` precedes every commit."""
    eligible = [
        e for e in history if e["commit_ms"] is not None and e["commit_ms"] <= ts_ms
    ]
    if not eligible:
        raise ValueError(
            f"no commit of {table!r} at or before {ts_ms} ms — the "
            "timestamp precedes the first commit"
        )
    return max(eligible, key=lambda e: e["version"])


def commit_changes(
    prev: DataFrame,
    commits: Sequence[tuple[int, int, DataFrame]],
    key_columns: Sequence[str],
    *,
    prev_version: int | None = None,
) -> DataFrame:
    """Change rows of consecutive commits: each ``(version, commit_ms,
    frame)`` snapshot is diffed (``snapshot_diff``) against the one
    before it — the first against ``prev`` — and stamped
    ``_commit_version`` / ``_commit_timestamp``; the diffs are unioned.
    No commits gives the empty stamped frame in ``prev``'s schema.

    Versions must be consecutive, starting at ``prev_version + 1`` when
    ``prev`` is a known version (``None`` = an empty or bootstrap base):
    a gap means history between two snapshots is gone, and diffing
    across it would attribute several commits' changes to one."""
    keys = list(key_columns)
    expected = None if prev_version is None else prev_version + 1
    parts = []
    for version, commit_ms, frame in commits:
        if expected is not None and version != expected:
            raise ValueError(
                f"commit_changes: ledger gap at version {expected} (next "
                f"surviving version is {version}) — history between the "
                "two snapshots was vacuumed, so its per-commit changes "
                "cannot be reconstructed. Re-sync from a full snapshot."
            )
        expected = version + 1
        parts.append((version, commit_ms, snapshot_diff(prev, frame, keys)))
        prev = frame
    if not parts:
        empty = prev.limit(0)
        parts = [(None, None, snapshot_diff(empty, empty, keys))]
    return reduce(
        DataFrame.unionByName,
        (
            diff.withColumn("_commit_version", F.lit(version).cast("long"))
            .withColumn("_commit_timestamp", F.lit(commit_ms).cast("long"))
            for version, commit_ms, diff in parts
        ),
    )


def _align(df: DataFrame, template: DataFrame, version: int, table: str) -> DataFrame:
    """``df`` in ``template``'s columns: columns the version predates
    come back as typed NULLs (additive evolution); a column the
    template lacks raises."""
    extra = [c for c in df.columns if c not in template.columns]
    if extra:
        raise ValueError(
            f"change feed of {table!r}: version {version} carries columns "
            f"{extra} absent from the latest schema — column DROPS are a "
            "rewrite, not an evolution the feed aligns"
        )
    return df.select(
        *[
            F.col(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in template.schema.fields
        ]
    )


def window_changes(
    history: Sequence[dict],
    read_version: Callable[[int], DataFrame],
    start_ms: int,
    end_ms: int,
    *,
    key_columns: Sequence[str],
    table: str,
) -> DataFrame:
    """The change feed of a versioned table for every commit with
    ``start_ms <= commit_ms <= end_ms``, from its ``history``
    (``{"version", "commit_ms"}`` entries, any order; an entry with no
    commit time is a readable version that never falls in a window)
    and ``read_version(v)``, which returns snapshot ``v``.

    Version 0 diffs against empty (the first-sync all-INSERT shape); a
    window whose first commit has no surviving predecessor raises, as
    Delta CDF does on vacuumed history, instead of fabricating the
    pre-existing snapshot as INSERTs. The feed's schema is the newest
    version's: older snapshots align by typed NULL columns, so an
    unchanged row that merely gained a NULL column hashes the same on
    both sides and emits nothing; a dropped column raises. Each
    version is read once — the newest doubles as the schema template
    when it is in the window. A window past the last commit gives the
    empty stamped frame."""
    if not history:
        raise ValueError(f"{table!r} has no commits")
    versions = {e["version"] for e in history}
    in_window = sorted(
        (
            e
            for e in history
            if e["commit_ms"] is not None and start_ms <= e["commit_ms"] <= end_ms
        ),
        key=lambda e: e["version"],
    )
    first = in_window[0]["version"] if in_window else 0
    prev_version = first - 1 if first > 0 else None
    if prev_version is not None and prev_version not in versions:
        raise ValueError(
            f"change feed of {table!r}: commit version {first} has no "
            f"surviving predecessor (version {prev_version} was vacuumed) "
            "— the requested window spans vacuumed history, so per-commit "
            "changes cannot be reconstructed. Narrow the window to start "
            "at or after the oldest commit whose predecessor survives, or "
            "re-sync from a full snapshot."
        )
    newest = max(versions)
    template = read_version(newest)
    frames = {newest: template}
    for v in [prev_version, *(e["version"] for e in in_window)]:
        if v is not None and v not in frames:
            frames[v] = _align(read_version(v), template, v, table)
    prev = template.limit(0) if prev_version is None else frames[prev_version]
    return commit_changes(
        prev,
        [(e["version"], e["commit_ms"], frames[e["version"]]) for e in in_window],
        key_columns,
        prev_version=prev_version,
    )
