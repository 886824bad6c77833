"""Semi-structured columns via the Spark 4 VARIANT type.

``get_json_object`` re-parses the JSON STRING on every extraction; the
VARIANT type parses ONCE into a binary-shredded encoding that every
later path access reads directly — the difference between O(paths)
Jackson parses per row and one parse at ingestion, and the reason
lakehouse tables store telemetry/props columns as VARIANT at 100 TB.
This module is the ingestion + typed-extraction + drift-monitoring
surface over it; the string-path operator (``json_props_extract``,
registry_analytics) remains as the compatibility twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_variant(
    df: DataFrame,
    json_column: str,
    *,
    output_column: str = "v",
    mode: str = "try",
) -> DataFrame:
    """Parse a JSON string column to VARIANT. ``mode="try"`` maps
    malformed documents to NULL (the streaming-ingest posture: one bad
    row must not kill the batch; count them downstream via
    ``F.col(output_column).isNull() & F.col(json_column).isNotNull()``);
    ``mode="fail"`` raises on the first malformed document (the
    batch-backfill posture where silence is worse than failure)."""
    if mode == "try":
        parsed = F.try_parse_json(F.col(json_column))
    elif mode == "fail":
        parsed = F.parse_json(F.col(json_column))
    else:
        raise ValueError(f"parse_variant: unknown mode {mode!r}")
    return df.withColumn(output_column, parsed)


def variant_fields(
    df: DataFrame,
    variant_column: str,
    fields: dict[str, tuple[str, str]],
) -> DataFrame:
    """Typed field extraction: ``fields`` maps output column name ->
    (variant path, target type), e.g. ``{"k": ("$.k", "long"),
    "mx": ("$.m.x", "double")}``. Each access is one read of the
    shredded binary — no JSON re-parse; missing paths and type
    mismatches yield NULL (``try_variant_get`` — the plain
    ``variant_get`` RAISES on an uncastable value under ANSI, which is
    the wrong default for telemetry extraction where a few mistyped
    documents must not kill the scan)."""
    out = df
    for name, (path, dtype) in fields.items():
        out = out.withColumn(
            name, F.try_variant_get(F.col(variant_column), path, dtype)
        )
    return out


def variant_schema_profile(df: DataFrame, variant_column: str) -> DataFrame:
    """Schema-DRIFT monitor: group documents by their inferred variant
    schema (``schema_of_variant`` — per-document, not corpus-wide) and
    count. A telemetry pipeline alerts when a new schema string
    appears or proportions shift; one narrow map + one count
    aggregation, deterministic output (schema string + count).
    Documents that failed ``try`` parsing group under NULL."""
    return df.groupBy(
        F.schema_of_variant(F.col(variant_column)).alias("variant_schema")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
