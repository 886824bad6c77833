"""Incremental sessionization via ``foreachBatch`` folds with versioned
parquet state — the sessions member of the versioned-state streaming
family (rollup, MERGE snapshot, token budget).

The ``applyInPandasWithState`` sessionizer (streaming/sessionize.py)
holds its state inside the streaming engine; this fold holds it in a
versioned parquet directory instead, so the same gap semantics run as a
plain ``foreachBatch`` loop (no TWS runtime dependency), are
exactly-once across retries, and are REPLAYABLE as deterministic batch
folds — which is what gives the operator a driver-checkable oracle.

State ``v=<batch_id>``: ONE open-session row per user
``(user_id, session_seq, n_events, start_ms, last_ms)`` — O(users),
never O(events), the same cardinality class as the groupBy itself.
Closed sessions append to ``closed/v=<batch_id>`` (overwritten on
retry, so a replayed batch rewrites the identical rows).

PRECONDITION (the availableNow/file-stream contract): batches must be
event-time ordered PER USER across batches — every event in batch b+1
is >= that user's last event in batches <= b. Within a batch, order is
free (the fold sorts). Late cross-batch data needs the watermarked TWS
sessionizer instead.

Batch-equality: given the ordering precondition, folding batches
b0..bn then ``read_sessions`` yields EXACTLY the batch
``operators/sessions.session_stats`` output — the gap rule
``new session iff ts - prev_ts > gap`` is evaluated pairwise on
adjacent events per user, and the fold sees exactly the same adjacent
pairs (the open-state row stands in for the previous batch's last
event, carrying the accumulated (seq, n_events, start)). Pinned by
tests/test_streaming.py and the registered ``sessionize_stream_replay``
oracle.

Exactly-once protocol (same as streaming/rollup.py): state ``v=b`` is
derived ONLY from the latest version ``< b`` plus the batch rows, and
both writes are overwrite-by-version — a retried batch rewrites
identical output instead of double-counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms
from pyspark_unload_to_gcs_spark.session import barrier
from pyspark_unload_to_gcs_spark.storage import child, committed_dirs
from pyspark_unload_to_gcs_spark.streaming.rollup import (
    read_slices,
    read_state,
    write_state,
)

STATE_COLUMNS = ("user_id", "session_seq", "n_events", "start_ms", "last_ms")
CLOSED_COLUMNS = (
    "user_id",
    "session_seq",
    "n_events",
    "start_ms",
    "end_ms",
    "duration_ms",
)


def fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    user_column: str = "user_id",
    time_column: str = "ts",
    gap_ms: int = 30 * 60 * 1000,
) -> None:
    """Fold one micro-batch of events into the versioned session state.

    One shuffle on ``user_column`` (state rows union event rows, two
    windows over the same partitioning -> a single Exchange), then one
    narrow aggregation per (user, segment). Deterministic in
    (state@<batch_id, batch rows): safe on foreachBatch retry.
    """
    spark = batch_df.sparkSession
    ts_ms = epoch_ms(batch_df, time_column)
    events = batch_df.select(
        F.col(user_column).alias("user_id"),
        ts_ms.alias("__ts"),
        F.lit(0).alias("__is_state"),
        F.lit(None).cast("long").alias("__st_seq"),
        F.lit(None).cast("long").alias("__st_nev"),
        F.lit(None).cast("long").alias("__st_start"),
    )
    prev = read_state(spark, state_path, before=batch_id)
    if prev is not None:
        state_rows = prev.select(
            "user_id",
            F.col("last_ms").alias("__ts"),
            F.lit(1).alias("__is_state"),
            F.col("session_seq").alias("__st_seq"),
            F.col("n_events").alias("__st_nev"),
            F.col("start_ms").alias("__st_start"),
        )
        uni = events.unionByName(state_rows)
    else:
        uni = events

    # The open-state row sorts FIRST for its user (its last_ms <= every
    # batch ts under the ordering precondition; ties break state-first
    # so an equal-ts event continues the open session, gap 0).
    w = Window.partitionBy("user_id").orderBy(
        F.col("__ts").asc(), F.col("__is_state").desc()
    )
    prev_ts = F.lag("__ts").over(w)
    is_start = F.when(
        prev_ts.isNull() | ((F.col("__ts") - prev_ts) > gap_ms), F.lit(1)
    ).otherwise(F.lit(0))
    seg = F.sum(is_start).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = uni.withColumn("__seg", seg)

    grouped = marked.groupBy("user_id", "__seg").agg(
        F.max("__st_seq").alias("__st_seq"),
        F.max("__st_nev").alias("__st_nev"),
        F.max("__st_start").alias("__st_start"),
        F.max(F.when(F.col("__is_state") == 1, F.col("__ts"))).alias("__st_last"),
        F.count(F.when(F.col("__is_state") == 0, 1)).alias("__ev_count"),
        F.min(F.when(F.col("__is_state") == 0, F.col("__ts"))).alias("__ev_min"),
        F.max(F.when(F.col("__is_state") == 0, F.col("__ts"))).alias("__ev_max"),
    )
    uw = Window.partitionBy("user_id")
    # the state row (if any) is always in segment 1, so the user's base
    # seq and the continuing session's carry-over are window maxes
    sessions = grouped.select(
        "user_id",
        "__seg",
        F.max("__st_seq").over(uw).alias("__base_seq"),
        F.max("__seg").over(uw).alias("__max_seg"),
        "__st_seq",
        "__st_nev",
        "__st_start",
        "__st_last",
        "__ev_count",
        "__ev_min",
        "__ev_max",
    ).select(
        "user_id",
        F.when(
            F.col("__base_seq").isNotNull(), F.col("__base_seq") + F.col("__seg") - 1
        )
        .otherwise(F.col("__seg"))
        .cast("long")
        .alias("session_seq"),
        (F.coalesce(F.col("__st_nev"), F.lit(0)) + F.col("__ev_count"))
        .cast("long")
        .alias("n_events"),
        F.coalesce(F.col("__st_start"), F.col("__ev_min")).cast("long").alias("start_ms"),
        F.coalesce(F.col("__ev_max"), F.col("__st_last")).cast("long").alias("end_ms"),
        (F.col("__seg") == F.col("__max_seg")).alias("__open"),
    )
    # two writes consume the same frame; a barrier runs the window/agg
    # pipeline once and keeps its AQE-coalesced partitions, so file
    # count tracks state bytes. An executor loss while the two writes
    # run fails the batch; the retry refolds from committed state, which
    # the overwrite-by-version protocol is built for.
    sessions = barrier(sessions, eager=True)
    closed = sessions.filter(~F.col("__open")).select(
        "user_id",
        "session_seq",
        "n_events",
        "start_ms",
        "end_ms",
        (F.col("end_ms") - F.col("start_ms")).alias("duration_ms"),
    )
    write_state(closed, child(state_path, "closed"), batch_id)
    state = sessions.filter(F.col("__open")).select(
        "user_id",
        "session_seq",
        "n_events",
        "start_ms",
        F.col("end_ms").alias("last_ms"),
    )
    write_state(state, state_path, batch_id)


def read_sessions(spark: SparkSession, state_path: str) -> DataFrame:
    """All CLOSED sessions so far, plus the open state closed as-of its
    last event (the availableNow end-of-input flush), making the result
    equal to batch ``session_stats`` over everything folded.

    Consistency under a mid-fold crash: the state write is the COMMIT
    POINT of a batch (fold_batch writes closed/v=b first, state v=b
    second), so closed logs are read only up to the latest committed
    state version — a closed/v=b left behind by a crash between the
    two writes is ignored until the retry commits v=b, preventing the
    same session appearing both closed (from the orphaned log) and
    finalized-open (from state v=b-1). Before any state exists the
    result is empty with a ``long`` user id."""
    committed = committed_dirs(state_path, "v")
    parts = []
    if committed:
        closed = read_slices(
            spark, child(state_path, "closed"), "v", through=committed[-1][0]
        )
        if closed is not None:
            parts.append(closed.select(*CLOSED_COLUMNS))
    state = read_state(spark, state_path)
    if state is not None:
        parts.append(
            state.select(
                "user_id",
                "session_seq",
                "n_events",
                "start_ms",
                F.col("last_ms").alias("end_ms"),
                (F.col("last_ms") - F.col("start_ms")).alias("duration_ms"),
            )
        )
    if not parts:
        return spark.createDataFrame(
            [], schema=", ".join(f"{c} long" for c in CLOSED_COLUMNS)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
