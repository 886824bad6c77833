"""Product-analytics queries over the events fixture: funnel, cohort
retention, rolling active users (operators/product.py).

The funnel's DuckDB oracle deliberately uses a DIFFERENT formulation
(per-step min-joins with strict-inequality gates) than the Spark
implementation (single sorted-array fold): both compute the same
first-touch strict-ordered semantics, so the hash match validates the
fold against an independently-derived answer, not against itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.product import (
    funnel,
    retention_cohorts,
    rolling_active_users,
    rolling_active_users_approx,
)
from pyspark_unload_to_gcs_spark.registry import _t, register

FUNNEL_STEPS = ["view", "click", "purchase"]


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_type
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (
        SELECT user_id, MIN(ts_ms) AS step1_ms
        FROM e WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts_ms) AS step2_ms
        FROM e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts_ms > s1.step1_ms
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts_ms) AS step3_ms
        FROM e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts_ms > s2.step2_ms
        GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.step1_ms, s2.step2_ms, s3.step3_ms
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered view→click→purchase funnel, one row per user who
    viewed, nullable epoch-ms completion per step. Spark side is a
    single groupBy + sorted-array fold (one shuffle); the oracle is the
    classic per-step min-join cascade — independent formulations, same
    semantics."""
    return funnel(_t(spark, sf_dir, "events"), FUNNEL_STEPS)


# Weekly cohort retention: also the oracle of the streaming retention
# fold replay (registry_pipeline), whose final matrix must equal it.
_RETENTION_SQL = """
    WITH per AS (
        SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS period
        FROM events
    ),
    coh AS (
        SELECT user_id, MIN(period) AS cohort_period FROM per GROUP BY user_id
    )
    SELECT coh.cohort_period,
           per.period - coh.cohort_period AS period_offset,
           COUNT(DISTINCT per.user_id) AS n_users
    FROM per JOIN coh ON coh.user_id = per.user_id
    GROUP BY coh.cohort_period, period_offset
    """


@register("retention_cohorts", oracle=_RETENTION_SQL)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (7-day buckets anchored at the
    epoch — pure integer arithmetic, engine-portable boundaries)."""
    return retention_cohorts(_t(spark, sf_dir, "events"), period_days=7)


@register(
    "rolling_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day_num
        FROM events
    ),
    days AS (SELECT DISTINCT day_num AS d FROM ud)
    SELECT days.d AS day_num,
           COUNT(DISTINCT CASE WHEN ud.day_num = days.d THEN ud.user_id END) AS dau,
           COUNT(DISTINCT ud.user_id) AS wau
    FROM days JOIN ud ON ud.day_num <= days.d AND ud.day_num > days.d - 7
    GROUP BY days.d
    """,
)
def rolling_active_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU + trailing-7-day actives per observed day. Distinct
    (user, day) first, then a broadcast range join against the tiny day
    dimension — rolling distinct can't use a window frame (distinct
    doesn't decompose into frame increments)."""
    return rolling_active_users(_t(spark, sf_dir, "events"), window_days=7)


@register("rolling_active_users_approx")  # rows-only: HLL estimates, not exact SQL
def rolling_active_users_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL rolling actives: one sketch per day, trailing
    window = sketch unions over the tiny per-day table — user-scale
    work happens exactly once. Accuracy vs the exact operator asserted
    in tests (within a few percent)."""
    return rolling_active_users_approx(_t(spark, sf_dir, "events"), window_days=7)


@register(
    "growth_accounting",
    oracle="""
    WITH per AS (
        SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS period FROM events
    ), marked AS (
        SELECT user_id, period,
               LAG(period) OVER (PARTITION BY user_id ORDER BY period) AS prev_p,
               LEAD(period) OVER (PARTITION BY user_id ORDER BY period) AS next_p,
               MIN(period) OVER (PARTITION BY user_id) AS first_p
        FROM per
    ), contrib AS (
        SELECT period,
               CASE WHEN period = first_p THEN 1 ELSE 0 END AS is_new,
               CASE WHEN prev_p = period - 1 THEN 1 ELSE 0 END AS is_retained,
               CASE WHEN period != first_p
                     AND COALESCE(prev_p, -4611686018427387904) < period - 1
                    THEN 1 ELSE 0 END AS is_resurrected,
               0 AS is_churned
        FROM marked
        UNION ALL
        SELECT period + 1, 0, 0, 0, 1
        FROM marked WHERE next_p IS NULL OR next_p > period + 1
    )
    SELECT c.period,
           CAST(SUM(is_new) AS BIGINT) AS n_new,
           CAST(SUM(is_retained) AS BIGINT) AS n_retained,
           CAST(SUM(is_resurrected) AS BIGINT) AS n_resurrected,
           CAST(SUM(is_churned) AS BIGINT) AS n_churned
    FROM contrib c
    WHERE c.period IN (SELECT period FROM per)
    GROUP BY c.period
    """,
)
def growth_accounting_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (new / retained / resurrected / churned per
    7-day period) — the standard companion to the retention matrix;
    churn attributed to the period after the user's last consecutive
    activity, restricted to observed periods."""
    from pyspark_unload_to_gcs_spark.operators.product import growth_accounting

    return growth_accounting(_t(spark, sf_dir, "events"), period_days=7)


@register(
    "top_event_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY n_transitions DESC, event_type ASC, next_type ASC
    LIMIT 20
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event flows: the most common consecutive event-type transitions
    across users (the paths/flows report). One window shuffle keyed by
    user (ties broken by event_id for a deterministic sequence), then a
    tiny |event_types|^2 aggregation; top-k is deterministic via the
    full tie-break chain."""
    from pyspark.sql import Window

    from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_ms(ev, "ts"), F.col("event_id"))
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    return (
        seq.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy(
            F.col("n_transitions").desc(),
            F.col("event_type").asc(),
            F.col("next_type").asc(),
        )
        .limit(20)
    )


@register(
    "session_funnel",
    oracle="""
    WITH lagged AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
               LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) AS prev
        FROM events
    ), sess AS (
        SELECT user_id, event_type, ts_ms,
               CAST(SUM(CASE WHEN prev IS NULL OR ts_ms - prev > 1800000 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts_ms
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM lagged
    ), e AS (
        SELECT * FROM sess WHERE event_type IN ('view', 'click', 'purchase')
    ), s1 AS (
        SELECT user_id, session_seq, MIN(ts_ms) AS step1_ms
        FROM e WHERE event_type = 'view' GROUP BY user_id, session_seq
    ), s2 AS (
        SELECT e.user_id, e.session_seq, MIN(e.ts_ms) AS step2_ms
        FROM e JOIN s1 ON s1.user_id = e.user_id AND s1.session_seq = e.session_seq
        WHERE e.event_type = 'click' AND e.ts_ms > s1.step1_ms
        GROUP BY e.user_id, e.session_seq
    ), s3 AS (
        SELECT e.user_id, e.session_seq, MIN(e.ts_ms) AS step3_ms
        FROM e JOIN s2 ON s2.user_id = e.user_id AND s2.session_seq = e.session_seq
        WHERE e.event_type = 'purchase' AND e.ts_ms > s2.step2_ms
        GROUP BY e.user_id, e.session_seq
    )
    SELECT s1.user_id, s1.session_seq, s1.step1_ms, s2.step2_ms, s3.step3_ms
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id AND s2.session_seq = s1.session_seq
    LEFT JOIN s3 ON s3.user_id = s1.user_id AND s3.session_seq = s1.session_seq
    """,
)
def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped funnel: steps must complete within ONE session
    (30-min gap sessionization runs over ALL event types first, then
    the funnel folds per (user, session)). Session numbering is robust
    to timestamp ties — equal-time events always share a session, so
    the composition stays deterministic. Oracle replays sessionize +
    min-join cascade independently."""
    from pyspark_unload_to_gcs_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, gap_ms=30 * 60 * 1000).drop("__ts_ms")
    return funnel(s, FUNNEL_STEPS, extra_group_columns=("session_seq",))
