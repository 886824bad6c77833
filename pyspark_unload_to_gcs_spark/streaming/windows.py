"""Event-time windowed aggregation — works on BOTH batch and streaming
DataFrames (``F.window`` / ``F.session_window`` are plan-agnostic), so
the batch form is the DuckDB-oracle-checkable reference semantics and
the streaming form is the same code plus a watermark.

Watermarks replace the reference's ``--delay_ms`` late-arrival guard
(export.py:164-166: "don't export rows newer than now - delay, they may
still be mutating"): instead of an upper time-bound re-planned by an
external orchestrator, the engine tracks max(event time) - delay and
finalizes windows below it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_watermark_if_streaming(df: DataFrame, time_column: str, delay: str) -> DataFrame:
    """Watermark on streaming plans; identity on batch (batch plans
    reject withWatermark-dependent state semantics but compute the same
    aggregation globally)."""
    return df.withWatermark(time_column, delay) if df.isStreaming else df


def tumbling_agg(
    df: DataFrame,
    *,
    time_column: str = "ts",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark_delay: str = "30 minutes",
    group_columns: tuple[str, ...] = (),
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` differs from the duration)
    window aggregation. Output carries ``window_start_ms`` /
    ``window_end_ms`` epoch columns (portable across engines; the raw
    window struct is engine-specific).

    ``aggs`` maps output column name -> SQL aggregate expression over
    the input columns, e.g. ``{"n": "count(1)", "total": "sum(value)"}``.
    """
    aggs = aggs or {"n_events": "count(1)"}
    df = with_watermark_if_streaming(df, time_column, watermark_delay)
    win = (
        F.window(F.col(time_column), window_duration, slide)
        if slide
        else F.window(F.col(time_column), window_duration)
    )
    grouped = df.groupBy(win.alias("__w"), *[F.col(c) for c in group_columns])
    out = grouped.agg(*[F.expr(expr).alias(name) for name, expr in aggs.items()])
    return out.select(
        F.unix_millis(F.col("__w.start")).alias("window_start_ms"),
        F.unix_millis(F.col("__w.end")).alias("window_end_ms"),
        *[F.col(c) for c in group_columns],
        *[F.col(name) for name in aggs],
    )


def session_window_agg(
    df: DataFrame,
    *,
    time_column: str = "ts",
    gap: str = "30 minutes",
    watermark_delay: str = "30 minutes",
    group_columns: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Session-window event counts (``n_events``) via the builtin
    ``F.session_window`` (gap-based, merging). Semantics match the batch
    ``operators.sessions`` construction: a session closes after ``gap``
    of inactivity; window end = last event + gap.

    In streaming mode this is stateful with watermark-driven eviction —
    state per open session only, the 100 TB-safe formulation.
    """
    df = with_watermark_if_streaming(df, time_column, watermark_delay)
    grouped = df.groupBy(
        F.session_window(F.col(time_column), gap).alias("__w"),
        *[F.col(c) for c in group_columns],
    )
    return grouped.agg(F.expr("count(1)").alias("n_events")).select(
        F.unix_millis(F.col("__w.start")).alias("session_start_ms"),
        F.unix_millis(F.col("__w.end")).alias("session_end_ms"),
        *[F.col(c) for c in group_columns],
        F.col("n_events"),
    )
