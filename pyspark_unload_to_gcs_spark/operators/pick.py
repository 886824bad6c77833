"""The per-key pick every "which rows of a key survive" operator shares:
the reference's scd-latest planner is one call of it (export.py:174-188,
``ROW_NUMBER() OVER (PARTITION BY gid ORDER BY t DESC) ... WHERE
row_num = 1``).

``top_per_key`` numbers each key's rows in ``order`` and keeps the first
``n``; an integer ``n`` lets Catalyst plan a ``WindowGroupLimit`` below
the window's sort, so each task forwards at most ``n`` rows per key. The
row-content order rule lives next to it: ``orderable`` says whether
Spark can sort a type, and ``content_order`` turns every column of a
frame into a sort key, hashing the ones that cannot be sorted, so a pick
over tied rows is a function of their content, not of shuffle order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def top_per_key(
    df: DataFrame,
    by: Sequence[str | Column],
    order: Sequence[Column],
    n: int | Column = 1,
    *,
    rank: str | None = None,
) -> DataFrame:
    """The first ``n`` rows of each ``by`` key in ``order``. ``n`` is an
    int or a Column evaluated per row (a per-key quota). ``rank`` names
    the 1-based row number column to keep; without it the helper column
    is dropped. Ties in ``order`` leave the pick to shuffle order, so a
    deterministic caller ends ``order`` with a key unique per row or
    with ``content_order``."""
    column = rank or "__rn"
    w = Window.partitionBy(*by).orderBy(*order)
    picked = df.withColumn(column, F.row_number().over(w)).filter(F.col(column) <= n)
    return picked if rank else picked.drop(column)


def orderable(dt: T.DataType) -> bool:
    """Whether Spark can sort (or null-safe compare) a type: maps cannot,
    and arrays and structs inherit that from their element and field
    types (Catalyst ``RowOrdering.isOrderable``)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(orderable(f.dataType) for f in dt.fields)
    return True


def content_order(df: DataFrame, skip: Sequence[str]) -> list[Column]:
    """One ascending sort key per column of ``df`` outside ``skip``: the
    column itself when it is orderable, ``xxhash64(to_json(col))`` when
    it is not (a MAP in ORDER BY is an AnalysisException)."""
    return [
        F.col(f.name) if orderable(f.dataType) else F.xxhash64(F.to_json(F.col(f.name)))
        for f in df.schema.fields
        if f.name not in skip
    ]
