"""Custom stateful streaming sessionization via
``applyInPandasWithState`` — the escape hatch for stateful semantics the
builtin windows can't express (here: per-user 1-based ``session_seq``
numbering that matches the batch operator in ``operators/sessions.py``
exactly, which ``F.session_window`` does not emit).

State per user = (last event ms, session seq, open-session aggregates,
open flag). A session closes when the event-time watermark passes
last_ts + gap (EventTimeTimeout). After a close, the (last_ms, seq)
pair is retained so later sessions keep the batch-exact numbering —
state is O(distinct users), never O(events); at 100 TB that's the same
cardinality class as the groupBy itself.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("n_events", LongType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("duration_ms", LongType()),
    ]
)

# state: last_ms, session_seq, n_events, start_ms, open (0/1)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("last_ms", LongType()),
        StructField("session_seq", LongType()),
        StructField("n_events", LongType()),
        StructField("start_ms", LongType()),
        StructField("open", LongType()),
    ]
)


def session_row(user, seq: int, n: int, start: int, last_ms: int) -> dict:
    """One closed session as a ``SESSION_OUT_SCHEMA`` row."""
    return {
        "user_id": user,
        "session_seq": seq,
        "n_events": n,
        "start_ms": start,
        "end_ms": last_ms,
        "duration_ms": last_ms - start,
    }


def gap_session_step(
    user, state: tuple, timestamps, gap_ms: int, watermark_ms: int
) -> tuple[tuple, list[dict]]:
    """Fold one user's new event times (epoch ms) into its session
    state ``(last_ms, session_seq, n_events, start_ms, open)``: sort
    them, start a new session at every gap > ``gap_ms`` (closing the
    open one), then close the open session early when the watermark
    has already passed last + gap (the user went quiet while other
    partitions advanced event time; a timeout or timer at or below the
    watermark is rejected). Returns (new state, closed session rows).
    The one gap-session step of both stateful sessionizers."""
    last_ms, seq, n, start, open_ = state
    closed: list[dict] = []
    for t in sorted(timestamps):
        if not open_ or t - last_ms > gap_ms:
            if open_:
                closed.append(session_row(user, seq, n, start, last_ms))
            seq += 1
            n = 0
            start = t
            open_ = 1
        n += 1
        last_ms = t
    if open_ and last_ms + gap_ms <= watermark_ms:
        closed.append(session_row(user, seq, n, start, last_ms))
        n, start, open_ = 0, 0, 0
    return (last_ms, seq, n, start, open_), closed


def sessionize_stream(
    events: DataFrame,
    *,
    user_column: str = "user_id",
    time_column: str = "ts",
    gap_ms: int = 30 * 60 * 1000,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Emit one row per CLOSED session (watermark-finalized), matching
    the batch ``operators.sessions.session_stats`` schema plus exact
    ``session_seq`` parity."""

    def fn(
        key: tuple, batches: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        user = key[0]
        columns = [f.name for f in SESSION_OUT_SCHEMA.fields]
        current = state.get if state.exists else (0, 0, 0, 0, 0)

        if state.hasTimedOut:
            last_ms, seq, n, start, open_ = current
            closed = []
            if open_:
                closed.append(session_row(user, seq, n, start, last_ms))
                state.update((last_ms, seq, 0, 0, 0))  # keep seq numbering
            yield pd.DataFrame(closed, columns=columns)
            return

        ts_all = [int(v) for pdf in batches for v in pdf["__ts_ms"].tolist()]
        new, closed = gap_session_step(
            user, current, ts_all, gap_ms, state.getCurrentWatermarkMs()
        )
        state.update(new)
        last_ms, *_, open_ = new
        if open_:
            state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(closed, columns=columns)

    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms

    prepared = (
        events.withColumn("__ts_ms", epoch_ms(events, time_column))
        .withWatermark(time_column, watermark_delay)
        .groupBy(F.col(user_column))
    )
    return prepared.applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
