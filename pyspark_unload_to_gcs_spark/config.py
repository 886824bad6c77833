"""Sync configuration: the engine's typed replacement for the
reference's 20-argument argparse surface (reference export.py:236-325).

A ``SyncConfig`` fully describes one table sync; ``plans.sync.plan_sync``
turns it into an unexecuted DataFrame (a Catalyst logical plan), and
``sinks.writers`` materialize it. Validation happens up-front here
instead of failing late inside Spark analysis.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum


class SyncType(str, Enum):
    FULL = "full"
    TIME_BASED = "time-based"
    SCD_LATEST = "scd-latest"
    CDC = "cdc"


class ExportFormat(str, Enum):
    JSON = "json"
    CSV = "csv"
    PARQUET = "parquet"  # engine extension: columnar output for pipelines
    ORC = "orc"  # engine extension: builtin columnar alternative (no extra jars)


@dataclass
class SyncConfig:
    """One table sync. Only `table` is always required; per-sync-type
    requirements are validated by ``validate()``.
    """

    table: str  # catalog.schema.table, a registered view name, or a parquet path
    sync_type: SyncType = SyncType.FULL

    # time-based sync (reference export.py:159-167)
    updated_time_column: str = ""
    time_cutoff_ms: int = 0
    now_ms: int = 0
    delay_ms: int = 0

    # scd-latest sync (reference export.py:174-188)
    group_id_column: str = ""
    scd_time_column: str = ""
    # engine extension: deterministic tie-break columns for equal scd_time
    scd_tiebreak_columns: tuple[str, ...] = ()

    # shared filters (reference export.py:19-28)
    non_nullable_columns: tuple[str, ...] = ()

    # content hash (reference export.py:204-214)
    computed_hash_column: str = ""
    computed_hash_ignore_columns: tuple[str, ...] = ()

    # guard (reference export.py:31-46); 0 disables
    validate_row_count: int = 0

    # sink (reference export.py:216-232)
    export_format: ExportFormat = ExportFormat.JSON
    output_uri: str = ""
    compression: str = "gzip"
    max_records_per_file: int | None = None
    single_file: bool | None = None  # None -> CSV defaults True (reference compat)
    # engine extension: hive-style partitioned output (e.g. by a date
    # column) — at 100 TB the partition column is what makes downstream
    # incremental reads prune
    partition_by: tuple[str, ...] = ()
    # engine extension: write a _MANIFEST.json control document (per-file
    # md5 + bytes + the observed row count) after the export — the
    # exactly-once handoff artifact downstream consumers validate with
    # sinks.writers.validate_manifest before ingesting
    emit_manifest: bool = False

    # cdc (reference export.py:103-128)
    use_custom_sql: bool = False
    custom_sql_dir: str = ""
    # engine extension: which table format backs the CDC probes.
    # "delta" = the reference's Delta readers (sources/delta.py,
    # needs delta-spark); "versioned" = the versioned-parquet source
    # (sources/versioned.py — same probe semantics, runs anywhere;
    # `table` is then the versioned directory path). The incremental
    # versioned change feed reconstructs changes by snapshot diff, so
    # it needs the table's key columns.
    table_format: str = "delta"
    cdc_key_columns: tuple[str, ...] = ()

    def validate(self) -> None:
        if self.sync_type == SyncType.SCD_LATEST and (
            not self.group_id_column or not self.scd_time_column
        ):
            # same error contract as reference export.py:175-176
            raise ValueError(
                "scd-latest sync requires group_id_column and scd_time_column"
            )
        if self.sync_type == SyncType.TIME_BASED and not self.updated_time_column:
            raise ValueError("time-based sync requires updated_time_column")
        if self.sync_type == SyncType.CDC and self.use_custom_sql and not self.custom_sql_dir:
            raise ValueError("cdc sync with use_custom_sql requires custom_sql_dir")
        if self.table_format not in ("delta", "versioned"):
            raise ValueError(
                f"unknown table_format {self.table_format!r} "
                "(expected 'delta' or 'versioned')"
            )
        if (
            self.sync_type == SyncType.CDC
            and self.table_format == "versioned"
            and self.time_cutoff_ms > 0
            and not self.cdc_key_columns
        ):
            raise ValueError(
                "incremental cdc sync on a versioned table requires "
                "cdc_key_columns (the snapshot-diff change feed needs the "
                "table's key columns)"
            )


@dataclass
class SyncResult:
    """What the orchestrator gets back (reference export.py:330-337
    returned resolved SQL + CDC watermark via dbutils.notebook.exit)."""

    plan_description: str
    change_capture_sync_last_commit_ms: int = 0
    rows_written: int | None = None
    output_uri: str = ""

    def to_dict(self) -> dict:
        return {
            "query": self.plan_description,
            "change_capture_sync_last_commit_ms": self.change_capture_sync_last_commit_ms,
            "rows_written": self.rows_written,
            "output_uri": self.output_uri,
        }
