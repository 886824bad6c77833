"""SCD "latest record per key" operator (reference W1+P8,
export.py:174-188: ROW_NUMBER() OVER (PARTITION BY gid ORDER BY t DESC)
... WHERE row_num = 1).

Scale notes (100 TB):
- row_number over a hash-partitioned window is a single shuffle on the
  group key; AQE skew-join/partition handling applies. For heavily
  skewed group keys, prefer ``latest_per_group_maxby`` which does a
  partial (map-side) aggregate before the shuffle, moving far fewer
  bytes when each key has many versions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pick import top_per_key

RANK_COLUMN = "row_num"


def latest_per_group(
    df: DataFrame,
    group_id_column: str,
    scd_time_column: str,
    tiebreak_columns: Sequence[str] = (),
    *,
    keep_rank_column: bool = False,
) -> DataFrame:
    """Keep the latest row per group: one ``top_per_key`` pick.

    - ``tiebreak_columns``: extra DESC sort keys for rows with equal
      ``scd_time_column`` — the reference's bare ORDER BY is
      nondeterministic on ties; pass e.g. a primary key for stable output.
    - ``keep_rank_column=True`` reproduces the reference's leak of the
      synthetic ``row_num`` column into the export (export.py:180-185),
      as the last column; default drops it (documented divergence,
      SURVEY.md §7).
    """
    order = [F.col(c).desc() for c in (scd_time_column, *tiebreak_columns)]
    return top_per_key(
        df, [group_id_column], order, rank=RANK_COLUMN if keep_rank_column else None
    )


def scd2_intervals(
    df: DataFrame,
    group_id_column: str,
    scd_time_column: str,
    tiebreak_columns: Sequence[str] = (),
    *,
    valid_from_column: str = "valid_from",
    valid_to_column: str = "valid_to",
    current_flag_column: str = "is_current",
) -> DataFrame:
    """SCD Type-2 companion to the reference's scd-latest (export.py:
    174-188): instead of keeping only the latest version per key, every
    version gets a half-open validity interval ``[valid_from, valid_to)``
    — its own timestamp to the next version's timestamp, NULL while
    current — plus an ``is_current`` flag. ``filter(is_current)`` of
    this output equals ``latest_per_group`` (property-tested).

    One window (single hash shuffle on the group key, same exchange the
    reference's ROW_NUMBER plan needs); ``lead`` over the ascending
    (time, tiebreaks...) order, so ties are resolved identically to
    ``latest_per_group``'s descending sort.
    """
    order = [F.col(scd_time_column).asc()] + [F.col(c).asc() for c in tiebreak_columns]
    w = Window.partitionBy(group_id_column).orderBy(*order)
    nxt = F.lead(F.col(scd_time_column)).over(w)
    return (
        df.withColumn(valid_from_column, F.col(scd_time_column))
        .withColumn(valid_to_column, nxt)
        .withColumn(current_flag_column, nxt.isNull())
    )


def latest_per_group_maxby(
    df: DataFrame,
    group_id_column: str,
    scd_time_column: str,
    tiebreak_columns: Sequence[str] = (),
) -> DataFrame:
    """Shuffle-light variant: max_by over a sortable struct.

    ``groupBy(gid).agg(max(struct(t, tiebreaks..., *)))`` computes a
    partial max per input partition before the exchange, so the shuffle
    carries one row per (partition, key) instead of every version.
    Output column order is preserved. Requires the time/tiebreak columns
    to be orderable (struct comparison is lexicographic).
    """
    cols = df.columns
    sort_keys = [scd_time_column, *tiebreak_columns]
    packed = F.struct(*[F.col(c) for c in sort_keys], F.struct(*cols).alias("__row"))
    agg = df.groupBy(group_id_column).agg(F.max(packed).alias("__top"))
    return agg.select([F.col(f"__top.__row.{c}").alias(c) for c in cols])
