"""Streaming sources.

File-based streams are the OSS-portable equivalent of the reference's
orchestrated incremental reads: new files arriving in a directory play
the role of new rows past the watermark (reference export.py:159-167).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream a directory of parquet files. Schema must be supplied —
    streaming file sources do not infer (a full-scan inference step
    would defeat incremental reads at scale).

    ``max_files_per_trigger`` bounds micro-batch size; at 100 TB this is
    the knob that keeps per-batch state and shuffle bounded.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_rate(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic rate source (columns: timestamp, value) — for smoke
    tests and throughput probes without any files."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
