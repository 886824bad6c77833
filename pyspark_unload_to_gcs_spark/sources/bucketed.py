"""Bucketed (pre-partitioned, co-located) tables — the shuffle-elimination
layout for repeated large joins and aggregations at 100 TB.

Spark's bucketing (``DataFrameWriter.bucketBy``) hash-partitions rows
into a fixed number of buckets per file-written table and records the
bucket spec in the catalog. When two tables share the same bucket count
and bucket columns, a join on those columns is planned WITHOUT an
Exchange on either side (each task zips bucket i with bucket i), and a
group-by on the bucket columns needs no shuffle at all. This is the
classic answer to "this join shuffles 100 TB every night": pay one
bucketed write, then every downstream join/agg on that key is
shuffle-free.

Notes for real clusters (all public Spark semantics):
- bucket pruning: equality filters on the first bucket column skip
  non-matching buckets at scan time;
- ``spark.sql.sources.bucketing.enabled`` (default true) must stay on,
  and both sides' bucket counts must match (or be multiples with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``);
- sorted buckets (``sortBy``) additionally remove the per-task sort of
  a sort-merge join;
- tables here are EXTERNAL (path-backed): the catalog entry carries the
  bucket spec, the parquet files live wherever ``path`` points.

The reference (a Databricks export job) has no bucketing; this module
is part of the engine's 100 TB extension surface (SURVEY.md §7
milestone 5). Exercised by the ``bucketed_colocated_join`` registry
query and the no-Exchange plan assertions in tests/test_bucketed.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def _valid_identifier(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"invalid table identifier: {name!r}")
    return name


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_columns: list[str],
    num_buckets: int,
    sort_columns: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Write ``df`` as a bucketed parquet table registered in the session
    catalog — EXTERNAL (path-backed) when ``path`` is given, managed
    otherwise. Overwrites any existing table of the same name. This is
    the engine's one bucketed-write implementation.

    ``sort_columns`` defaults to ``bucket_columns`` — sorted buckets let
    a sort-merge join skip its per-task sort, and cost nothing extra at
    write time for typical key distributions.
    """
    _valid_identifier(table)
    if num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")
    if not bucket_columns:
        raise ValueError("bucket_columns must be non-empty")
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(num_buckets, *bucket_columns)
        .sortBy(*(sort_columns or bucket_columns))
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
) -> DataFrame:
    """Inner-join two catalog tables by name. When both were written with
    ``write_bucketed`` on ``on`` with equal bucket counts, the physical
    plan contains no Exchange on either join side (asserted in
    tests/test_bucketed.py with broadcast disabled — at toy scale Spark
    would otherwise broadcast the small side, which is also shuffle-free
    but not the layout being demonstrated)."""
    left = spark.table(_valid_identifier(left_table))
    right = spark.table(_valid_identifier(right_table))
    return left.join(right, on=on)
