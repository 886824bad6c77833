"""Command-line entry point, flag-compatible with the reference job
(reference export.py:236-325) so an existing orchestrator invocation can
switch engines by changing only the module name:

    python -m pyspark_unload_to_gcs_spark --sync_type full \
        --catalog c --schema_name s --table t --bucket b --prefix p ...

Differences from the reference surface (all additive):
- ``--output_uri`` overrides the gs://bucket/prefix URI (lets the same
  job write to file:/ or s3://; required when --bucket is omitted).
- ``--custom_sql_dir`` replaces the Databricks-workspace file lookup for
  --use_custom_sql (there is no dbutils outside Databricks).
- ``--partition_by`` / ``--single_file`` / ``--compression`` /
  ``--emit_manifest`` expose the
  engine's partitioned-write controls.
- The checkpoint document goes to stdout as one JSON line instead of
  ``dbutils.notebook.exit`` (reference export.py:330-337); orchestrators
  read it from the job log.

Reference-compatible quirks preserved: ``--non_nullable_columns`` splits
on comma (export.py:26) while ``--computed_hash_ignore_columns`` splits
on whitespace (export.py:205); ``--mixpanel_project_id`` is accepted and
unused (export.py:322-324).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark_unload_to_gcs_spark.config import SyncConfig
from pyspark_unload_to_gcs_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="PySpark-native table export engine")
    p.add_argument("--export_format", default="json", choices=["json", "csv", "parquet", "orc"])
    p.add_argument("--gcp_project", default="")
    p.add_argument("--bucket", default="")
    p.add_argument("--prefix", default="")
    p.add_argument("--service_account_email", default="")
    p.add_argument("--service_account_key_id", default="")
    p.add_argument("--service_account_key", default="")
    p.add_argument("--computed_hash_column", default="")
    p.add_argument("--computed_hash_ignore_columns", default="")
    p.add_argument("--max_records_per_file", type=int, nargs="?", default=None)
    p.add_argument(
        "--sync_type", default="full", choices=["time-based", "full", "scd-latest", "cdc"]
    )
    p.add_argument("--catalog", default="")
    p.add_argument("--schema_name", default="")
    p.add_argument("--table", required=True)
    p.add_argument("--validate_row_count", type=int, default=0)
    p.add_argument("--time_cutoff_ms", type=int, default=0)
    p.add_argument("--updated_time_column", default="")
    p.add_argument("--delay_ms", type=int, default=0)
    p.add_argument("--now_ms", type=int, default=0)
    p.add_argument("--non_nullable_columns", default="")
    p.add_argument("--group_id_column", default="")
    p.add_argument("--scd_time_column", default="")
    p.add_argument("--use_custom_sql", action="store_true")
    p.add_argument("--mixpanel_project_id", default="")  # accepted, unused (compat)
    # engine extensions
    p.add_argument("--output_uri", default="")
    p.add_argument("--custom_sql_dir", default="")
    p.add_argument("--partition_by", default="")
    p.add_argument("--single_file", action="store_true", default=None)
    p.add_argument("--compression", default="gzip")
    p.add_argument("--emit_manifest", action="store_true")
    # engine extension: CDC probe backend ("delta" needs delta-spark;
    # "versioned" = sources/versioned.py over plain parquet) + the key
    # columns its snapshot-diff change feed requires
    p.add_argument("--table_format", default="delta", choices=["delta", "versioned"])
    p.add_argument("--cdc_key_columns", default="")
    return p


def config_from_args(args: argparse.Namespace) -> SyncConfig:
    table = args.table
    if args.catalog and args.schema_name:
        table = f"{args.catalog}.{args.schema_name}.{args.table}"

    output_uri = args.output_uri
    if not output_uri:
        if not args.bucket:
            raise ValueError("either --output_uri or --bucket/--prefix is required")
        output_uri = f"gs://{args.bucket}/{args.prefix.strip('/')}"

    non_nullable = tuple(c.strip() for c in args.non_nullable_columns.split(",") if c.strip())
    hash_ignore = tuple(args.computed_hash_ignore_columns.split())
    partition_by = tuple(c.strip() for c in args.partition_by.split(",") if c.strip())

    return SyncConfig(
        table=table,
        sync_type=args.sync_type,
        updated_time_column=args.updated_time_column,
        time_cutoff_ms=args.time_cutoff_ms,
        now_ms=args.now_ms,
        delay_ms=args.delay_ms,
        group_id_column=args.group_id_column,
        scd_time_column=args.scd_time_column,
        non_nullable_columns=non_nullable,
        computed_hash_column=args.computed_hash_column,
        computed_hash_ignore_columns=hash_ignore,
        validate_row_count=args.validate_row_count,
        export_format=args.export_format,
        output_uri=output_uri,
        compression=args.compression,
        max_records_per_file=args.max_records_per_file,
        single_file=args.single_file,
        emit_manifest=args.emit_manifest,
        partition_by=partition_by,
        use_custom_sql=args.use_custom_sql,
        custom_sql_dir=args.custom_sql_dir,
        table_format=args.table_format,
        cdc_key_columns=tuple(
            c.strip() for c in args.cdc_key_columns.split(",") if c.strip()
        ),
    )


def run_query_mode(argv: list[str]) -> int:
    """Analytics runner: execute a registered query by name against a
    scale-factor directory — the query library as a shell command.

    ``--list_queries`` prints every name (one per line, * = has a SQL
    oracle). ``--run_query NAME`` executes it; rows go to stdout as JSON
    lines (bounded by ``--limit``), or the full result is written as
    gzip JSON-lines when ``--output_uri`` is given (no driver collect on
    the full-result path)."""
    from pyspark_unload_to_gcs_spark import registry

    p = argparse.ArgumentParser(description="registered-query runner")
    p.add_argument("--run_query", default="")
    p.add_argument("--list_queries", action="store_true")
    p.add_argument("--sf_dir", default="/root/testdata/sf0.001")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--output_uri", default="")
    p.add_argument("--explain", action="store_true")
    args = p.parse_args(argv)

    queries = registry.queries()
    if args.list_queries:
        oracles = registry.oracle_sql()
        for name in sorted(queries):
            print(f"{name} *" if name in oracles else name)
        return 0
    if args.run_query not in queries:
        close = [n for n in sorted(queries) if args.run_query in n]
        hint = f"; close matches: {', '.join(close)}" if close else ""
        print(f"unknown query {args.run_query!r}{hint}", file=sys.stderr)
        return 2

    spark = get_spark(app_name=f"query-{args.run_query}")
    df = queries[args.run_query](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")  # prints the formatted physical plan
        return 0
    if args.output_uri:
        from pyspark_unload_to_gcs_spark.config import SyncConfig
        from pyspark_unload_to_gcs_spark.sinks.writers import write_export

        write_export(
            df, SyncConfig(table=args.run_query, output_uri=args.output_uri)
        )
        print(json.dumps({"query": args.run_query, "output_uri": args.output_uri}))
    else:
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    from pyspark_unload_to_gcs_spark.plans.sync import run_sync
    from pyspark_unload_to_gcs_spark.sinks.writers import configure_gcs_auth

    argv = sys.argv[1:] if argv is None else argv
    if "--list_queries" in argv or "--run_query" in argv:
        return run_query_mode(argv)
    args = build_parser().parse_args(argv)
    config = config_from_args(args)
    spark = get_spark(app_name="pyspark-unload-to-gcs-export")
    if args.gcp_project:
        configure_gcs_auth(
            spark,
            args.gcp_project,
            args.service_account_email,
            args.service_account_key,
            args.service_account_key_id,
        )
    result = run_sync(spark, config)
    # orchestrator checkpoint document (reference export.py:330-337)
    print(json.dumps(result.to_dict()))
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
