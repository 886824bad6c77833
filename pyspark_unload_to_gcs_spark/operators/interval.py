"""Interval-overlap join: both sides are [start, end) intervals and a
pair matches when they overlap (l.start < r.end AND r.start < l.end).

Spark has no native interval join, and the naive spelling is a
cross-join with a range predicate — BroadcastNestedLoopJoin at best,
a cartesian at worst, either way quadratic pair evaluation at 100 TB.
This operator re-expresses it as ONE equi-join shuffle on a time-grid
key (the standard bucketized interval-join decomposition, as used by
interval libraries and range-join optimizers in public engines):

1. explode each interval into the grid cells it covers
   (``floor(start/g) .. floor((end-1)/g)`` — half-open, so an interval
   never emits a cell it only touches at its exclusive end);
2. equi-join left and right on the cell id — Catalyst plans a plain
   shuffled hash/sort-merge join, partitioned by cell;
3. keep a pair only in the ONE cell that contains
   ``greatest(l.start, r.start)`` — every overlapping pair shares that
   cell by construction, so results are exact with NO distinct/dedup
   shuffle (the dedup is a filter, not an aggregation);
4. re-check the true overlap predicate (grid collisions where the
   intervals share a cell but don't overlap are dropped here).

Cost: |rows| x (interval_len / granularity) exploded rows; pick the
granularity near the TYPICAL interval length so most intervals emit
O(1) cells. Long outlier intervals fan out proportionally — cap them
upstream (split-at-cap) if the length distribution is heavy-tailed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    granularity: int,
) -> DataFrame:
    """Join two interval frames on [start, end) overlap via a
    time-grid equi-join (module docstring). Start/end columns are
    integers (epoch-ms or any consistent unit); ``granularity`` is the
    grid cell width in the same unit. Column names must be disjoint
    across the two inputs (rename upstream; this keeps the operator a
    pure plan transform with no hidden aliasing). Returns
    left-columns + right-columns for every overlapping pair."""
    if granularity <= 0:
        raise ValueError("interval_overlap_join: granularity must be positive")
    overlap_cols = set(left.columns) & set(right.columns)
    if overlap_cols:
        raise ValueError(
            f"interval_overlap_join: column names must be disjoint; shared: "
            f"{sorted(overlap_cols)[:5]}"
        )
    if "__cell" in left.columns or "__cell" in right.columns:
        # reserved internal name: withColumn would silently clobber the
        # caller's column and the trailing drop would erase it
        raise ValueError("interval_overlap_join: '__cell' is reserved")
    g = F.lit(int(granularity))

    def cells(df: DataFrame, start: str, end: str) -> DataFrame:
        # half-open: an interval [s, e) covers cells floor(s/g) ..
        # floor((e-1)/g); empty/inverted intervals emit nothing
        ok = F.col(end) > F.col(start)
        seq = F.sequence(
            F.floor(F.col(start) / g), F.floor((F.col(end) - 1) / g)
        )
        return (
            df.filter(ok)
            .withColumn("__cell", F.explode(seq))
        )

    lc = cells(left, left_start, left_end)
    rc = cells(right, right_start, right_end)
    joined = lc.join(rc, lc["__cell"] == rc["__cell"])
    anchor = F.greatest(F.col(left_start), F.col(right_start))
    return (
        joined
        # exact-once: only the cell containing the later of the two
        # starts emits the pair (both sides cover that cell whenever
        # they overlap)
        .filter(lc["__cell"] == F.floor(anchor / g))
        .filter(
            (F.col(left_start) < F.col(right_end))
            & (F.col(right_start) < F.col(left_end))
        )
        .drop("__cell")
    )
