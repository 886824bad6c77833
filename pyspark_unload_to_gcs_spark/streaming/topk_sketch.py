"""Streaming heavy hitters: mergeable approx_top_k sketch states as
versioned streaming state.

The batch rollup (operators/sketches.py ``approx_topk_rollup``) reads
the corpus once; this is its streaming twin — per micro-batch, each
group's new rows accumulate into a sketch and UNION+COMBINE with the
previous state version, so the state is one kilobyte-scale sketch row
per group regardless of stream volume (the DataSketches mergeability
property doing the work Spark's built-in streaming aggs can't: serve
top-k-with-counts per group AND fold to corpus-wide answers without
reprocessing). Exactly-once across retries: version ``v=<batch_id>``
derives only from the latest version ``< batch_id`` plus the batch
rows, overwrite-committed (protocol shared with merge/rollup/dedup).

Exactness contract: below ``max_items_tracked`` distinct items per
group the sketch is exact, so the replay oracle is a plain count/rank;
above it, DataSketches frequent-items error bounds (|err| <= stream_n /
max_items_tracked) apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.streaming.rollup import read_state, write_state


def _acc(max_items: int):
    return F.expr(f"approx_top_k_accumulate(it, {int(max_items)})")


def _comb(max_items: int):
    return F.expr(f"approx_top_k_combine(st, {int(max_items)})")


def fold_topk_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    item_column: str,
    group_column,
    state_path: str,
    max_items_tracked: int = 4096,
) -> None:
    """Fold one micro-batch of items into the versioned per-group
    sketch state. Deterministic in (state@<batch_id, batch rows)."""
    spark = batch_df.sparkSession
    batch_state = (
        batch_df.select(group_column.alias("grp"), F.col(item_column).alias("it"))
        .groupBy("grp")
        .agg(_acc(max_items_tracked).alias("st"))
    )
    prev = read_state(spark, state_path, before=batch_id)
    if prev is None:
        nxt = batch_state
    else:
        # union + combine-aggregate IS the sketch merge: groups present
        # in only one side pass through combine unchanged
        nxt = (
            prev.unionByName(batch_state)
            .groupBy("grp")
            .agg(_comb(max_items_tracked).alias("st"))
        )
    write_state(nxt, state_path, batch_id)


def read_topk(
    spark: SparkSession,
    state_path: str,
    k: int = 3,
    *,
    max_items_tracked: int = 4096,
    total_sentinel: int = -1,
) -> DataFrame | None:
    """Serve (grp, rank, cnt) top-k per group plus the fold-merged
    overall row from the latest committed state — same output shape as
    the batch ``approx_topk_rollup`` (item identity excluded: rank
    order among tied counts is selection-arbitrary)."""
    per = read_state(spark, state_path)
    if per is None:
        return None

    def explode(frame: DataFrame) -> DataFrame:
        est = F.expr(f"approx_top_k_estimate(st, {int(k)})")
        return frame.select(
            F.col("grp").cast("long").alias("grp"),
            F.posexplode(est).alias("pos", "e"),
        ).select(
            "grp",
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("e.count").cast("long").alias("cnt"),
        )

    merged = per.agg(_comb(max_items_tracked).alias("st")).select(
        F.lit(int(total_sentinel)).alias("grp"), "st"
    )
    return explode(per).unionByName(explode(merged))
