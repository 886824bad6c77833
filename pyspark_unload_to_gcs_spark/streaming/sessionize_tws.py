"""Spark 4 ``transformWithStateInPandas`` sessionization — the successor
API to ``applyInPandasWithState`` (streaming/sessionize.py): typed state
handles (ValueState) instead of a single tuple, explicit event-time
timers instead of one timeout slot, and RocksDB-backed state with
changelog checkpointing — the state backend that scales past executor
memory, which is what you want for O(distinct users) state at 100 TB.

Semantics are IDENTICAL to the applyInPandasWithState twin and to the
batch operator ``operators/sessions.py::session_stats``: one output row
per watermark-CLOSED gap session, with batch-exact 1-based per-user
``session_seq`` numbering (state keeps (last_ms, seq) after a close).

Requires ``spark.sql.streaming.stateStore.providerClass`` =
``...state.RocksDBStateStoreProvider`` (transformWithState only runs on
the RocksDB provider); see ``tws_state_store_conf``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from pyspark_unload_to_gcs_spark.streaming.sessionize import (
    SESSION_OUT_SCHEMA,
    SESSION_STATE_SCHEMA,
    gap_session_step,
    session_row,
)

ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

_OUT_COLS = [f.name for f in SESSION_OUT_SCHEMA.fields]


def tws_state_store_conf() -> dict[str, str]:
    """Session confs transformWithState needs (RocksDB state store)."""
    return {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}


class SessionProcessor(StatefulProcessor):
    """Gap-session processor. State value = (last_ms, session_seq,
    n_events, start_ms, open) — same layout as the applyInPandasWithState
    twin, held in a typed ValueState. One event-time timer per open
    session; stale timers (events arrived after registration, so expiry
    < last_ms+gap) are ignored in the expiry handler."""

    def __init__(self, gap_ms: int) -> None:
        self.gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.state = handle.getValueState("session", SESSION_STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator["pd.DataFrame"], timerValues: TimerValues  # noqa: F821
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        current = self.state.get() if self.state.exists() else (0, 0, 0, 0, 0)
        ts_all = [int(v) for pdf in rows for v in pdf["__ts_ms"].tolist()]
        new, closed = gap_session_step(
            key[0], current, ts_all, self.gap_ms, timerValues.getCurrentWatermarkInMs()
        )
        self.state.update(new)
        last_ms, *_, open_ = new
        if open_:
            self.handle.registerTimer(last_ms + self.gap_ms)
        if closed:
            yield pd.DataFrame(closed, columns=_OUT_COLS)

    def handleExpiredTimer(
        self, key: tuple, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if not self.state.exists():
            return
        last_ms, seq, n, start, open_ = self.state.get()
        expiry = expiredTimerInfo.getExpiryTimeInMs()
        # Stale timer: events extended the session after registration.
        if not open_ or expiry < last_ms + self.gap_ms:
            return
        self.state.update((last_ms, seq, 0, 0, 0))  # keep seq numbering
        yield pd.DataFrame([session_row(key[0], seq, n, start, last_ms)], columns=_OUT_COLS)

    def close(self) -> None:
        pass


def sessionize_stream_tws(
    events: DataFrame,
    *,
    user_column: str = "user_id",
    time_column: str = "ts",
    gap_ms: int = 30 * 60 * 1000,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """transformWithStateInPandas twin of ``sessionize_stream`` — same
    output schema, same closed-session semantics, same seq parity."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms

    prepared = (
        events.withColumn("__ts_ms", epoch_ms(events, time_column))
        .withWatermark(time_column, watermark_delay)
        .groupBy(F.col(user_column))
    )
    return prepared.transformWithStateInPandas(
        statefulProcessor=SessionProcessor(gap_ms),
        outputStructType=SESSION_OUT_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )
