"""Row filters: non-null/non-empty guards and incremental time windows.

Capability parity with the reference's predicates P4-P7 (SURVEY.md §2c;
reference export.py:19-28, 159-167), rebuilt as Column expressions so
Catalyst can push them into the scan.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pyspark_unload_to_gcs_spark.timeutil import exclusive_start_ms


def non_null_filter(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Drop rows where any listed column is NULL or empty-string (P4).

    Every listed column must be ``IS NOT NULL``; string-typed columns
    (read from ``df.schema``) must also be ``!= ''``, as in reference
    export.py:19-28. The reference compares every column with ``''``;
    for a non-string column that casts the empty string, which fails
    with CAST_INVALID_INPUT under ANSI mode (and, without ANSI, yields
    NULL and drops every row), so such a column gets only the null
    check. Empty column names are ignored.
    """
    cols = [c for c in columns if c]
    if not cols:
        return df
    types = {f.name.lower(): f.dataType for f in df.schema.fields}

    def keep(c: str) -> Column:
        dtype = types.get(c.lower()) or df.select(c).schema.fields[0].dataType
        cond = F.col(c).isNotNull()
        return cond & (F.col(c) != F.lit("")) if isinstance(dtype, StringType) else cond

    return df.filter(reduce(and_, map(keep, cols)))


def time_window_filter(
    df: DataFrame,
    time_column: str,
    time_cutoff_ms: int = 0,
    now_ms: int = 0,
    delay_ms: int = 0,
    *,
    sargable: bool = True,
) -> DataFrame:
    """Incremental window filter (P5-P7).

    Semantics (second granularity, matching reference export.py:161-166):
      lower:  unix_seconds(col)*1000 >= time_cutoff_ms      (inclusive)
      upper:  unix_seconds(col)*1000 <= now_ms - delay_ms   (only when
              both delay_ms>0 and now_ms>0 — late-arrival guard)

    ``sargable=True`` (default) expresses the *same second-granularity
    predicate* as a bare timestamp comparison so parquet/Delta min-max
    file skipping and partition pruning still apply at 100 TB:

      unix_timestamp(col)*1000 >= C  <=>  col >= to_timestamp(ceil(C/1000))
      unix_timestamp(col)*1000 <= U  <=>  col <  to_timestamp(floor(U/1000)+1)

    because unix_timestamp truncates the timestamp to whole seconds.
    ``sargable=False`` keeps the literal wrapped-column form for
    bit-compatibility testing.
    """
    from pyspark_unload_to_gcs_spark.functions.timestamps import ts_bound_literal

    time_col = F.col(time_column)
    conds: list[Column] = []
    if sargable:
        # lower bound: seconds(col) >= ceil(cutoff/1000) <=> col >= that second
        lower_s = -((-time_cutoff_ms) // 1000)  # ceil division for ints
        conds.append(time_col >= ts_bound_literal(df, time_column, lower_s))
        if delay_ms > 0 and now_ms > 0:
            upper_ms = now_ms - delay_ms
            upper_s = upper_ms // 1000  # floor
            # seconds(col) <= upper_s  <=>  col < upper_s + 1 second
            conds.append(time_col < ts_bound_literal(df, time_column, upper_s + 1))
    else:
        epoch_ms = F.unix_timestamp(time_col) * 1000
        conds.append(epoch_ms >= F.lit(time_cutoff_ms))
        if delay_ms > 0 and now_ms > 0:
            conds.append(epoch_ms <= F.lit(now_ms - delay_ms))
    return df.filter(reduce(and_, conds))


def cdc_window_bounds_ms(time_cutoff_ms: int, end_ms: int) -> tuple[int, int]:
    """Half-open CDC window ``(cutoff, end]`` expressed as inclusive ms
    bounds ``[cutoff+1, end]`` (reference export.py:91-92, 115-116)."""
    return exclusive_start_ms(time_cutoff_ms), end_ms
