"""Table sources (SURVEY.md §2a S1, S6, S7).

The reference reads exactly one three-part catalog table per run via
``spark.sql`` (export.py:137, 203) and supports per-table custom SQL
files loaded from the workspace (export.py:70-100). Here a "table" may
be a catalog/temp-view name or a parquet path/directory, so everything
runs identically on local test parquet and on a warehouse.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.timeutil import ms_to_datetime

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet INT64 TIMESTAMP(NANOS), which Spark 4
    cannot read natively (PARQUET_TYPE_ILLEGAL). Detected from the
    parquet footer via pyarrow (no data read).

    Physical type matters: Spark's own legacy INT96 timestamps ALSO
    surface as ``timestamp[ns]`` in the *arrow* schema, but Spark reads
    those natively — treating them as ns-longs would apply an integer
    div to a TIMESTAMP column and fail analysis. Only INT64 columns
    whose parquet logical type is TIMESTAMP(NANOS) need the conversion.
    """
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return []
        probe = files[0]
    pq_schema = pq.ParquetFile(probe).schema  # parquet (not arrow) schema
    out = []
    for i in range(len(pq_schema)):
        col = pq_schema.column(i)
        logical = str(col.logical_type).lower()
        if (
            col.physical_type == "INT64"
            and logical.startswith("timestamp")
            and "nanosecond" in logical
        ):
            out.append(col.name)
    return out


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet, transparently handling nanosecond timestamps:
    reads them as long nanos (legacy conf) then truncates to microsecond
    TimestampType — the same ns->us truncation DuckDB applies, so both
    engines see identical values.

    Pushdown note: predicates on a converted ns column wrap the
    conversion expression and therefore can NOT be pushed to the parquet
    scan — a property of the ns fixture encoding, not of the engine's
    predicates (``time_window_filter`` emits bare column comparisons,
    which push down on native TIMESTAMP(MICROS)/DATE columns; asserted
    in tests/test_operators.py::test_sargable_filter_pushes_down)."""
    ns_cols = _nanos_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet TIMESTAMP(isAdjustedToUTC=false) columns would otherwise be
    # inferred as TIMESTAMP_NTZ (Spark 3.4+ default). The engine's
    # timestamp currency is epoch-based TimestampType (unix_millis,
    # F.window, watermark arithmetic all expect it), and the DuckDB
    # oracle reads the same stored micros as naive-UTC, so reading the
    # raw micros as TimestampType keeps both engines value-identical
    # under the UTC session timezone. Runtime conf: applies to scans
    # planned after this point, including under a driver-owned session.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_table(spark: SparkSession, table: str) -> DataFrame:
    """Load a table by catalog name, view name, or parquet path."""
    if table.endswith(".parquet") or "/" in table:
        return load_parquet(spark, table)
    return spark.table(table)


def load_sf_dir(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    """Load the driver's scale-factor directory as a dict of DataFrames."""
    return {name: load_parquet(spark, os.path.join(sf_dir, f"{name}.parquet")) for name in names}


def custom_sql_source(
    spark: SparkSession,
    sql_dir: str,
    time_cutoff_ms: int,
    end_ms: int,
) -> DataFrame:
    """Per-table custom SQL source (reference S6, export.py:70-100).

    Loads ``initial_query.sql`` on first sync (cutoff==0) else
    ``recurring_query.sql`` from ``sql_dir`` and executes it with named
    parameters ``:start_timestamp`` / ``:end_timestamp`` (Spark 3.4+
    parameterized SQL — reference S7, export.py:203). Start is the
    +1 ms exclusive watermark; both are ISO-8601 strings, matching the
    reference's parameter currency (export.py:94-98).
    """
    filename = "initial_query.sql" if time_cutoff_ms == 0 else "recurring_query.sql"
    path = os.path.join(sql_dir, filename)
    if not os.path.exists(path):
        raise FileNotFoundError(f"Custom SQL query file not found: {path}")
    with open(path) as f:
        query = f.read()

    params: dict[str, str] = {"end_timestamp": ms_to_datetime(end_ms).isoformat()}
    if time_cutoff_ms > 0:
        params["start_timestamp"] = ms_to_datetime(time_cutoff_ms + 1).isoformat()
    return spark.sql(query, args=params)


def current_timestamp_ms(spark: SparkSession) -> int:
    """End-of-window probe (reference S5, export.py:63-67)."""
    from pyspark_unload_to_gcs_spark.timeutil import datetime_to_ms
    from datetime import timezone

    now = spark.sql("SELECT current_timestamp()").first()[0]
    return datetime_to_ms(now.replace(tzinfo=timezone.utc))


def load_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under DIFFERENT
    schema versions (columns added over time — the normal life of an
    incrementally-exported table; the reference's ``SELECT *`` planners
    inherit whatever schema each run sees, SURVEY.md §1).

    ``mergeSchema`` unions all file footers into one superset schema;
    files missing a column yield NULLs. Spark only merges *compatible*
    evolution (added/reordered columns, int->long style widening is NOT
    merged — a true type conflict raises, which is what you want at
    100 TB rather than silent corruption)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def union_evolved(dfs: list[DataFrame]) -> DataFrame:
    """Union frames whose schemas drifted: align by COLUMN NAME and fill
    columns missing on either side with NULLs (position-based union
    would silently mix columns). The cross-window concatenation
    primitive for incremental exports."""
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def conform_to_schema(df: DataFrame, target) -> DataFrame:
    """Project ``df`` onto a target schema: missing columns become typed
    NULLs, extra columns are DROPPED, matching columns are cast to the
    target type. Gives every export window an identical column set and
    types, no matter which schema version produced its source files —
    downstream consumers never see a moving schema."""
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for field in target.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def load_csv(
    spark: SparkSession,
    path: str,
    *,
    schema: str | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV ingestion (the reverse of the K2 export path). Prefer an
    explicit ``schema`` DDL string: ``inferSchema`` costs a FULL extra
    pass over the data before the real read — at 100 TB that doubles
    the scan, so inference is opt-in and meant for exploration only.
    PERMISSIVE mode with a ``_corrupt_record`` column would be the
    quarantine pattern; default here is strict (fail fast on bad rows,
    matching the engine's fail-early posture)."""
    reader = spark.read.format("csv").option("header", header).option("mode", "FAILFAST")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    else:
        raise ValueError("load_csv needs schema=... or infer=True (full extra pass)")
    return reader.load(path)


def load_json(
    spark: SparkSession,
    path: str,
    *,
    schema: str | None = None,
    infer: bool = False,
) -> DataFrame:
    """JSON-lines ingestion (the reverse of the K1 export path; reads
    .json and .json.gz alike — codecs come from file extensions). Same
    explicit-schema posture as load_csv: schema inference over JSON
    samples the data with an extra pass and can mistype sparse fields,
    so production readers pass the DDL."""
    reader = spark.read.format("json")
    if schema is not None:
        reader = reader.schema(schema)
    elif not infer:
        raise ValueError("load_json needs schema=... or infer=True (full extra pass)")
    return reader.load(path)


def load_xml(
    spark: SparkSession,
    path: str,
    *,
    row_tag: str,
    schema: str | None = None,
    infer: bool = False,
) -> DataFrame:
    """XML ingestion (Spark 4 built-in XML source; the wiki-dump /
    feed-archive shape a training-corpus pipeline ingests — e.g.
    ``row_tag="page"`` over a MediaWiki export). Same explicit-schema
    FAILFAST posture as load_csv/load_json: inference costs an extra
    pass and mistypes sparse nested fields, so production readers pass
    the DDL. Each ``row_tag`` element becomes one row; nested elements
    arrive as structs/arrays, attributes as ``_attr`` columns."""
    reader = (
        spark.read.format("xml").option("rowTag", row_tag).option("mode", "FAILFAST")
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif not infer:
        raise ValueError("load_xml needs schema=... or infer=True (full extra pass)")
    return reader.load(path)
