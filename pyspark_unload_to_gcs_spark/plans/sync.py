"""Sync planner: SyncConfig -> unexecuted DataFrame (the engine's IR).

Replaces the reference's ``build_query`` SQL-string dispatch
(export.py:131-190) with composable DataFrame planners. The IR between
planning and execution is a Catalyst logical plan instead of a SQL
string + params dict, so every downstream operator (hash column,
writers) composes without string surgery and Catalyst optimizes the
whole pipeline as one plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.config import SyncConfig, SyncResult, SyncType
from pyspark_unload_to_gcs_spark.operators.cdc import (
    change_type_mapping,
    snapshot_as_inserts,
)
from pyspark_unload_to_gcs_spark.operators.filters import (
    cdc_window_bounds_ms,
    non_null_filter,
    time_window_filter,
)
from pyspark_unload_to_gcs_spark.operators.guards import row_count_guard
from pyspark_unload_to_gcs_spark.operators.hashing import content_hash
from pyspark_unload_to_gcs_spark.operators.scd import latest_per_group
from pyspark_unload_to_gcs_spark.sinks import writers
from pyspark_unload_to_gcs_spark.sinks.writers import write_export
from pyspark_unload_to_gcs_spark.sources.catalog import (
    current_timestamp_ms,
    custom_sql_source,
    load_table,
)


@dataclass
class PlannedSync:
    df: DataFrame
    description: str
    change_capture_sync_last_commit_ms: int = 0


def _validate_columns_exist(df: DataFrame, config: SyncConfig) -> None:
    """Fail fast with a clear error instead of deep inside Catalyst
    analysis (the reference resolves names late, SURVEY.md §1)."""
    available = set(df.columns)
    named = {
        "updated_time_column": [config.updated_time_column],
        "group_id_column": [config.group_id_column],
        "scd_time_column": [config.scd_time_column],
        "scd_tiebreak_columns": list(config.scd_tiebreak_columns),
        "non_nullable_columns": list(config.non_nullable_columns),
        "partition_by": list(config.partition_by),
    }
    missing = [
        f"{arg}: {col!r}"
        for arg, cols in named.items()
        for col in cols
        if col and col not in available
    ]
    if missing:
        raise ValueError(
            f"columns not found in {config.table} "
            f"(available: {sorted(available)}): {', '.join(missing)}"
        )


def plan_sync(spark: SparkSession, config: SyncConfig) -> PlannedSync:
    """Dispatch on sync type (reference export.py:131-190)."""
    config.validate()
    sync_type = SyncType(config.sync_type)

    if sync_type == SyncType.CDC:
        return _plan_cdc(spark, config)

    df = load_table(spark, config.table)
    _validate_columns_exist(df, config)
    df = non_null_filter(df, config.non_nullable_columns)

    if sync_type == SyncType.FULL:
        desc = f"full({config.table})"
    elif sync_type == SyncType.TIME_BASED:
        df = time_window_filter(
            df,
            config.updated_time_column,
            time_cutoff_ms=config.time_cutoff_ms,
            now_ms=config.now_ms,
            delay_ms=config.delay_ms,
        )
        desc = (
            f"time-based({config.table}, {config.updated_time_column} in "
            f"[{config.time_cutoff_ms}, {config.now_ms - config.delay_ms if config.delay_ms > 0 and config.now_ms > 0 else 'inf'}])"
        )
    elif sync_type == SyncType.SCD_LATEST:
        df = latest_per_group(
            df,
            config.group_id_column,
            config.scd_time_column,
            tiebreak_columns=config.scd_tiebreak_columns,
        )
        desc = f"scd-latest({config.table}, by={config.group_id_column}, t={config.scd_time_column})"
    else:  # pragma: no cover - validate() rejects unknowns via Enum
        raise ValueError(f"Unknown sync_type: {config.sync_type}")

    return PlannedSync(df=df, description=desc)


def _plan_cdc(spark: SparkSession, config: SyncConfig) -> PlannedSync:
    """CDC sync (reference export.py:139-158).

    First sync (cutoff==0): snapshot pinned at the table's latest commit
    timestamp, every row an INSERT; watermark = that commit ts so
    snapshot and checkpoint agree. Incremental: change feed over the
    half-open window (cutoff, now].

    ``config.table_format`` picks the probe backend: "delta" = the
    reference's Delta readers (sources/delta.py; needs delta-spark),
    "versioned" = the versioned-parquet source (sources/versioned.py;
    same resolution/window semantics, runs anywhere — its change feed
    already emits the export discriminator, so no CDF mapping pass,
    and the commit-stamp metadata columns are dropped to keep the
    export schema identical across backends).
    """
    from pyspark_unload_to_gcs_spark.sources import delta as delta_src
    from pyspark_unload_to_gcs_spark.sources import versioned as versioned_src

    versioned = config.table_format == "versioned"

    def latest_commit_ms() -> int:
        if versioned:
            return versioned_src.latest_commit_timestamp_ms(config.table)
        return delta_src.latest_commit_timestamp_ms(spark, config.table)

    first_sync = config.time_cutoff_ms == 0
    if first_sync and not config.use_custom_sql:
        end_ms = latest_commit_ms()
    elif first_sync and config.use_custom_sql:
        # custom SQL first sync still anchors to "now" when the table may
        # not be Delta/versioned; prefer commit ts when it is.
        try:
            end_ms = latest_commit_ms()
        except Exception:
            end_ms = current_timestamp_ms(spark)
    else:
        end_ms = current_timestamp_ms(spark)

    if config.use_custom_sql:
        df = custom_sql_source(spark, config.custom_sql_dir, config.time_cutoff_ms, end_ms)
        desc = f"cdc-custom-sql({config.custom_sql_dir}, end={end_ms})"
    elif first_sync:
        snap = (
            versioned_src.snapshot_at_ms(spark, config.table, end_ms)
            if versioned
            else delta_src.snapshot_at_ms(spark, config.table, end_ms)
        )
        df = snapshot_as_inserts(snap)
        desc = f"cdc-first-sync({config.table} @ {end_ms})"
    else:
        start_ms, _ = cdc_window_bounds_ms(config.time_cutoff_ms, end_ms)
        if versioned:
            df = versioned_src.change_feed(
                spark,
                config.table,
                start_ms,
                end_ms,
                key_columns=list(config.cdc_key_columns),
            ).drop("_commit_version", "_commit_timestamp")
        else:
            df = change_type_mapping(
                delta_src.change_feed(spark, config.table, start_ms, end_ms)
            )
        desc = f"cdc-incremental({config.table}, ({config.time_cutoff_ms}, {end_ms}])"

    return PlannedSync(df=df, description=desc, change_capture_sync_last_commit_ms=end_ms)


def export_frame(df: DataFrame, config: SyncConfig) -> tuple[str, int]:
    """The export tail shared by ``run_sync`` and the streaming sink
    (``streaming.export.export_batch``): content-hash ``df`` per
    ``config``, write it with ``write_export``, and write the
    ``_MANIFEST.json`` when ``emit_manifest`` is set. Returns the
    output URI and the exported row count.

    The row count rides on the write as an ``Observation``: exported-row
    accounting with NO second scan (the reference's guard does a full
    pre-count; export.py:38). ``content_hash`` and ``write_export`` are
    resolved as this module's globals and ``write_manifest`` on
    ``sinks.writers`` at call time, so a layer tracer that replaces
    those module attributes wraps every export."""
    obs = Observation()
    hashed = content_hash(
        df, config.computed_hash_column, config.computed_hash_ignore_columns
    ).observe(obs, F.count(F.lit(1)).alias("rows"))
    uri = write_export(hashed, config)
    rows = obs.get["rows"]
    if config.emit_manifest:
        writers.write_manifest(uri, row_count=rows)
    return uri, rows


def run_sync(spark: SparkSession, config: SyncConfig) -> SyncResult:
    """Full pipeline: guard -> plan -> hash -> write -> checkpoint
    (the reference's ``__main__`` flow, export.py:325-337)."""
    planned = plan_sync(spark, config)
    if config.validate_row_count > 0:
        # Deliberate divergence: the reference counts the BASE TABLE
        # before planning (export.py:38 — a second full scan, and a
        # limit on the wrong quantity for filtered syncs); we guard the
        # planned result, which is what actually gets exported.
        row_count_guard(planned.df, config.validate_row_count)
    uri, rows_written = export_frame(planned.df, config)
    return SyncResult(
        plan_description=planned.description,
        change_capture_sync_last_commit_ms=planned.change_capture_sync_last_commit_ms,
        rows_written=rows_written,
        output_uri=uri,
    )
