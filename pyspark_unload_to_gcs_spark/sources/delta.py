"""Delta Lake sources via delta-spark (SURVEY.md §2a S2-S4), behind an
import guard.

delta-spark is not available in this build environment, so these
readers raise a clear error when Delta is absent; the Delta-independent
CDC logic (change-type mapping, watermark arithmetic, snapshot-as-
inserts) lives in ``operators/cdc.py`` and is fully tested without it.
The DEPENDENCY-FREE runtime path for the same capabilities is
``sources/delta_log.py``: a minimal open-protocol transaction-log
reader — history probe, TIMESTAMP AS OF replay through checkpoints,
diff-derived change feed — executing S2-S4 semantics on the documented
Delta table format without this package. Its TIMESTAMP AS OF rule and
change feed are the shared kernel in ``operators/cdc.py``
(``commit_as_of``, ``window_changes`` over ``commit_changes``), the
same one the versioned-parquet source runs.

Reference behaviors being mirrored:
- latest commit timestamp probe: DESCRIBE HISTORY ... LIMIT 1
  (export.py:49-60)
- snapshot read pinned TIMESTAMP AS OF the last commit (export.py:112-114)
- change feed between starting/ending timestamps (export.py:115-128)
"""

from __future__ import annotations

from datetime import timezone

from pyspark.sql import DataFrame, SparkSession

from pyspark_unload_to_gcs_spark.timeutil import datetime_to_ms, ms_to_datetime


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _require_delta() -> None:
    if not delta_available():
        raise ImportError(
            "delta-spark is required for Delta CDC sources; install delta-spark "
            "and configure spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
        )


# The exact OSS Delta conf the change feed reader sets (analogue of the
# reference's timestampOutOfRange conf, export.py:196) — module-level so
# tests can pin the spelling without delta-spark installed.
CDF_OUT_OF_RANGE_CONF: tuple[str, str] = (
    "spark.databricks.delta.changeDataFeed.timestampOutOfRange.enabled",
    "true",
)


def snapshot_read_options(ts_ms: int) -> dict[str, str]:
    """Reader options for a time-travel snapshot (S2). Pure — built and
    spelling-pinned by tests even though executing the read needs
    delta-spark, so a typo in an option key cannot hide behind the
    import guard."""
    return {"timestampAsOf": ms_to_datetime(ts_ms).isoformat()}


def change_feed_read_options(start_ms: int, end_ms: int) -> dict[str, str]:
    """Reader options for a CDF window read (S3). Pure; see
    ``snapshot_read_options``."""
    return {
        "readChangeFeed": "true",
        "startingTimestamp": ms_to_datetime(start_ms).isoformat(),
        "endingTimestamp": ms_to_datetime(end_ms).isoformat(),
    }


def latest_commit_timestamp_ms(spark: SparkSession, table: str) -> int:
    """Most recent Delta commit as epoch ms (reference export.py:49-60)."""
    _require_delta()
    from delta.tables import DeltaTable

    row = DeltaTable.forName(spark, table).history(1).select("timestamp").first()
    return datetime_to_ms(row[0].replace(tzinfo=timezone.utc))


def snapshot_at_ms(spark: SparkSession, table: str, ts_ms: int) -> DataFrame:
    """Time-travel snapshot pinned to a commit timestamp (reference S2)."""
    _require_delta()
    return spark.read.format("delta").options(**snapshot_read_options(ts_ms)).table(table)


def change_feed(spark: SparkSession, table: str, start_ms: int, end_ms: int) -> DataFrame:
    """Change Data Feed rows in ``[start_ms, end_ms]`` (reference S3).

    Caller supplies the half-open +1 ms start
    (``operators.filters.cdc_window_bounds_ms``). Sets the OSS analogue
    of the reference's timestampOutOfRange conf (export.py:196) so a
    start past the last commit returns empty instead of erroring.
    """
    _require_delta()
    spark.conf.set(*CDF_OUT_OF_RANGE_CONF)
    return (
        spark.read.format("delta")
        .options(**change_feed_read_options(start_ms, end_ms))
        .table(table)
    )
