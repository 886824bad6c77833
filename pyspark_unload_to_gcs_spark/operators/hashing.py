"""Deterministic row content hash (reference export.py:204-214:
md5(to_json(struct(sorted(columns - ignore set))))).

Used downstream for change detection. Two methods:

- ``json`` (default, reference parity): md5 over the JSON serialization
  of a name-sorted struct of the hashed columns. Handles nested
  struct/array/map columns transparently. CROSS-ENGINE CAVEAT: Spark's
  to_json OMITS null struct fields while DuckDB's to_json emits them as
  ``"field":null`` — the json hash is only cross-engine comparable when
  every hashed column is non-null (and only for BIGINT/VARCHAR-shaped
  fields; doubles/timestamps format engine-specifically). Within Spark
  itself the hash is always self-consistent, nulls included.
- ``concat``: md5 over a '|'-delimited concatenation of the columns cast
  to string with an explicit NULL sentinel. Engine-portable (identical
  output in DuckDB/Trino for scalar columns, nullable or not), used by
  the oracle-checked correctness queries.

Known reference bug we deliberately FIX (SURVEY.md §2i): the reference's
ignore-list check degrades to a *substring* test against the raw CLI
string (export.py:207-208 — the correct list test is overwritten), so
with ignore "user_id updated_at" a column named "id" is wrongly
excluded. This engine implements the intended list-membership semantics;
``hashed_columns(..., ignore_substring_compat=True)`` reproduces the bug
for parity testing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NULL_SENTINEL = "\x00"


def hashed_columns(
    all_columns: Sequence[str],
    ignore_columns: Sequence[str] = (),
    *,
    ignore_substring_compat: bool = False,
) -> list[str]:
    """Name-sorted column list entering the hash (reference sorts at
    export.py:209)."""
    if ignore_substring_compat:
        blob = " ".join(ignore_columns)
        kept = [c for c in all_columns if c not in blob]
    else:
        ignore = set(ignore_columns)
        kept = [c for c in all_columns if c not in ignore]
    return sorted(kept)


def row_hash_expr(columns: Sequence[str]):
    """md5 fingerprint Column over the name-sorted ``columns`` (concat
    method, NULL-sentinel distinct from empty string). Never NULL. A
    fingerprint, not an identity: ``("a|b", "c")`` and ``("a", "b|c")``
    hash the same, as do ``"\\x00"`` and NULL, so change detection
    compares the columns themselves (``cdc.snapshot_diff``)."""
    cols = sorted(columns)
    return F.md5(
        F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit(NULL_SENTINEL)) for c in cols]
        )
    )


def content_hash(
    df: DataFrame,
    output_column: str,
    ignore_columns: Sequence[str] = (),
    *,
    method: str = "json",
) -> DataFrame:
    """Append an md5 fingerprint of every row's content.

    Fully JVM-side (md5/to_json/struct are builtin expressions inside
    whole-stage codegen) — no shuffle, no UDF; scales linearly.
    ``method="concat"`` stays on ``row_hash_expr`` because the DuckDB
    oracles replay that exact string-and-separator hash.
    """
    if not output_column:
        return df
    cols = hashed_columns(df.columns, ignore_columns)
    if method == "json":
        digest = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    elif method == "concat":
        digest = row_hash_expr(cols)
    else:
        raise ValueError(f"Unknown hash method: {method}")
    return df.withColumn(output_column, digest)
