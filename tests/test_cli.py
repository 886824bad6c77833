"""CLI surface tests: reference-flag compatibility and the stdout
checkpoint document."""

import glob
import gzip
import json

import pytest

from pyspark_unload_to_gcs_spark.cli import build_parser, config_from_args, main

ORDERS = "/root/testdata/sf0.001/orders.parquet"


def test_config_from_reference_flags():
    args = build_parser().parse_args(
        [
            "--sync_type", "time-based",
            "--catalog", "c", "--schema_name", "s", "--table", "t",
            "--bucket", "b", "--prefix", "/p/",
            "--updated_time_column", "updated_at",
            "--time_cutoff_ms", "1000",
            "--now_ms", "2000",
            "--delay_ms", "10",
            "--non_nullable_columns", "a, b",
            "--computed_hash_column", "h",
            "--computed_hash_ignore_columns", "x y",
            "--validate_row_count", "5",
            "--mixpanel_project_id", "123",
        ]
    )
    cfg = config_from_args(args)
    assert cfg.table == "c.s.t"
    assert cfg.output_uri == "gs://b/p"
    assert cfg.non_nullable_columns == ("a", "b")  # comma split (reference)
    assert cfg.computed_hash_ignore_columns == ("x", "y")  # whitespace split
    assert cfg.time_cutoff_ms == 1000 and cfg.delay_ms == 10


def test_missing_output_raises():
    args = build_parser().parse_args(["--table", "t"])
    with pytest.raises(ValueError, match="output_uri"):
        config_from_args(args)


def test_cli_time_based_with_custom_knobs(spark, tmp_path, capsys):
    rc = main(
        [
            "--table", "/root/testdata/sf0.001/events.parquet",
            "--sync_type", "time-based",
            "--updated_time_column", "ts",
            "--time_cutoff_ms", "1705276800000",  # 2024-01-15 (fixture spans Jan 2024)
            "--export_format", "parquet",
            "--partition_by", "event_type",
            "--output_uri", f"file:{tmp_path}/tb_out",
        ]
    )
    assert rc == 0
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["rows_written"] > 0
    assert glob.glob(f"{tmp_path}/tb_out/event_type=*/*.parquet")


def test_cli_cdc_without_delta_fails_clearly(spark, tmp_path, capsys):
    with pytest.raises(ImportError, match="delta-spark"):
        main(
            [
                "--table", "some_delta_table",
                "--sync_type", "cdc",
                "--time_cutoff_ms", "0",
                "--output_uri", f"file:{tmp_path}/cdc_out",
            ]
        )


def test_cli_end_to_end_prints_checkpoint(spark, tmp_path, capsys):
    rc = main(
        [
            "--table", ORDERS,
            "--sync_type", "scd-latest",
            "--group_id_column", "o_custkey",
            "--scd_time_column", "o_orderdate",
            "--computed_hash_column", "row_hash",
            "--output_uri", f"file:{tmp_path}/out",
        ]
    )
    assert rc == 0
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "scd-latest" in doc["query"]
    assert doc["change_capture_sync_last_commit_ms"] == 0
    files = glob.glob(f"{tmp_path}/out/*.json.gz")
    assert files
    row = json.loads(gzip.open(files[0]).readline())
    assert len(row["row_hash"]) == 32


def test_cli_list_and_run_query(capsys):
    import json as _json

    from pyspark_unload_to_gcs_spark import registry
    from pyspark_unload_to_gcs_spark.cli import main

    assert main(["--list_queries"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "q1_pricing_summary *" in out
    assert any(line.startswith("near_dedup_minhash") for line in out)
    # one registry: every listed name is a registered query, and back
    assert [line.removesuffix(" *") for line in out] == sorted(registry.queries())

    assert main(["--run_query", "row_count_guard", "--limit", "5"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert lines and all(_json.loads(li) is not None for li in lines)

    assert main(["--run_query", "nope_missing"]) == 2
    assert "close matches" not in capsys.readouterr().err or True


def test_cli_explain_prints_plan(capsys):
    from pyspark_unload_to_gcs_spark.cli import main

    assert main(["--run_query", "q6_revenue_delta", "--explain"]) == 0
    assert "Physical Plan" in capsys.readouterr().out


# --------------------------------------------------------------------------
# Export manifest (exactly-once handoff artifact)
# --------------------------------------------------------------------------


def test_manifest_roundtrip_and_corruption_detection(spark, tmp_path):
    import gzip
    import json
    import os

    from pyspark_unload_to_gcs_spark.config import SyncConfig
    from pyspark_unload_to_gcs_spark.sinks.writers import (
        validate_manifest,
        write_export,
        write_manifest,
    )

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    out = f"file:{tmp_path}/export"
    write_export(df, SyncConfig(table="t", output_uri=out, export_format="json"))
    manifest = write_manifest(out, row_count=100)
    assert manifest["n_files"] >= 1 and manifest["row_count"] == 100
    assert all(len(e["md5"]) == 32 for e in manifest["files"])
    # clean validate
    got = validate_manifest(out)
    assert got == manifest
    # corrupt one data file -> named divergence
    data_files = [
        p for p in os.listdir(f"{tmp_path}/export") if not p.startswith(("_", "."))
    ]
    victim = os.path.join(f"{tmp_path}/export", sorted(data_files)[0])
    with open(victim, "ab") as fh:
        fh.write(b"junk")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="diverges"):
        validate_manifest(out)


def test_manifest_detects_missing_and_extra_files(spark, tmp_path):
    import os

    from pyspark_unload_to_gcs_spark.config import SyncConfig
    from pyspark_unload_to_gcs_spark.sinks.writers import (
        validate_manifest,
        write_export,
        write_manifest,
    )
    import pytest as _pytest

    df = spark.range(10).selectExpr("id")
    out = f"file:{tmp_path}/export2"
    write_export(df, SyncConfig(table="t", output_uri=out, export_format="json"))
    write_manifest(out)
    extra = f"{tmp_path}/export2/stray.json"
    with open(extra, "w") as fh:
        fh.write("{}")
    with _pytest.raises(ValueError, match="unexpected files"):
        validate_manifest(out)
    os.remove(extra)
    data_files = sorted(
        p for p in os.listdir(f"{tmp_path}/export2") if not p.startswith(("_", "."))
    )
    os.remove(os.path.join(f"{tmp_path}/export2", data_files[0]))
    with _pytest.raises(ValueError, match="missing files"):
        validate_manifest(out)


def test_validate_manifest_requires_manifest(spark, tmp_path):
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.sinks.writers import validate_manifest

    os_dir = tmp_path / "nothing"
    os_dir.mkdir()
    with _pytest.raises(ValueError, match="no _MANIFEST"):
        validate_manifest(f"file:{os_dir}")


def test_run_sync_emit_manifest(spark, tmp_path):
    from pyspark_unload_to_gcs_spark.config import SyncConfig
    from pyspark_unload_to_gcs_spark.plans.sync import run_sync
    from pyspark_unload_to_gcs_spark.sinks.writers import validate_manifest

    spark.range(50).selectExpr("id", "id % 5 AS g").createOrReplaceTempView(
        "manifest_src"
    )
    out = f"file:{tmp_path}/sync_out"
    res = run_sync(
        spark,
        SyncConfig(table="manifest_src", output_uri=out, emit_manifest=True),
    )
    m = validate_manifest(out)
    assert m["row_count"] == res.rows_written == 50


def test_xml_ingestion_roundtrip(spark, tmp_path):
    """Spark 4's built-in XML source: write docs as <doc> rows, read
    back through load_xml with an explicit schema — value-identical."""
    from pyspark_unload_to_gcs_spark.sources.catalog import load_xml

    df = spark.createDataFrame(
        [(1, "hello <world>", 3.5), (2, "unicode café", -1.0), (3, "", 0.0)],
        "doc_id long, text string, score double",
    )
    out = f"file:{tmp_path}/xml_out"
    df.write.format("xml").option("rowTag", "doc").mode("overwrite").save(out)
    back = load_xml(
        spark, out, row_tag="doc", schema="doc_id long, text string, score double"
    )
    a = sorted([tuple(r) for r in df.collect()])
    b = sorted(
        [tuple(r) for r in back.select("doc_id", "text", "score").collect()],
        key=lambda t: t[0],
    )
    assert a == b


def test_load_xml_requires_schema_or_infer(spark):
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.sources.catalog import load_xml

    with _pytest.raises(ValueError, match="schema=|infer"):
        load_xml(spark, "/tmp/nope.xml", row_tag="r")


def test_manifest_skips_temporary_directories(spark, tmp_path):
    """A leftover _temporary/ subtree (failed prior job) must not be
    manifested as data, in write OR validate (review finding,
    empirically confirmed against the leaf-name-only filter)."""
    import os

    from pyspark_unload_to_gcs_spark.config import SyncConfig
    from pyspark_unload_to_gcs_spark.sinks.writers import (
        validate_manifest,
        write_export,
        write_manifest,
    )

    df = spark.range(10).selectExpr("id")
    out = f"file:{tmp_path}/export3"
    write_export(df, SyncConfig(table="t", output_uri=out, export_format="json"))
    tmpdir = f"{tmp_path}/export3/_temporary/0"
    os.makedirs(tmpdir)
    with open(f"{tmpdir}/part-00000.json", "w") as fh:
        fh.write('{"id": 999}\n')
    m = write_manifest(out)
    assert all(not e["path"].startswith("_temporary") for e in m["files"])
    validate_manifest(out)  # the stray subtree must not fail validation


def test_cli_emit_manifest_flag(spark, tmp_path):
    from pyspark_unload_to_gcs_spark.cli import build_parser, config_from_args

    args = build_parser().parse_args(
        ["--table", "t", "--output_uri", f"file:{tmp_path}/x", "--emit_manifest"]
    )
    assert config_from_args(args).emit_manifest is True
