"""Export sinks (SURVEY.md §2b K1-K4; reference export.py:216-232).

URI-agnostic: the same writer handles ``gs://bucket/prefix`` in
production and ``file:/tmp/...`` in tests — only Hadoop conf differs
(``configure_gcs_auth``). Listing, manifest text and swaps go through
``storage.py``: its ``data_files`` rule decides what counts as an
export's data.

Scale posture vs the reference:
- JSON (default): gzip JSON-lines, parallel write, ``maxRecordsPerFile``
  to bound compressed file size — same as reference K1/K3.
- CSV: the reference hardcodes ``coalesce(1)`` (K2) so one task writes
  the entire export — a non-starter at 100 TB. Here single-file is a
  *flag* defaulting to the reference behavior for CSV only; pass
  ``single_file=False`` for partitioned CSV.
- PARQUET (engine extension): zstd columnar output for pipeline
  consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.config import ExportFormat, SyncConfig
from pyspark_unload_to_gcs_spark.storage import (
    child,
    data_files,
    hadoop_fs,
    read_text,
    replace_text_atomic,
)


def configure_gcs_auth(
    spark: SparkSession,
    project_id: str,
    service_account_email: str = "",
    service_account_key: str = "",
    service_account_key_id: str = "",
) -> None:
    """Inject GCS connector auth into the active Hadoop conf (reference
    K4, export.py:197-201). The gcs-connector jar itself ships with the
    cluster image; keys here are the connector's public conf surface."""
    spark.conf.set("google.cloud.auth.service.account.enable", "true")
    spark.conf.set("fs.gs.project.id", project_id)
    if service_account_email:
        spark.conf.set("fs.gs.auth.service.account.email", service_account_email)
    if service_account_key:
        spark.conf.set("fs.gs.auth.service.account.private.key", service_account_key)
    if service_account_key_id:
        spark.conf.set("fs.gs.auth.service.account.private.key.id", service_account_key_id)


def compact_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 128,
) -> int:
    """Compact a directory of small parquet files into
    ~``target_file_mb`` zstd-compressed outputs (the maintenance pass
    every incremental export pipeline needs — micro-batch/foreachBatch
    sinks produce one file set per epoch, and small files kill scan
    parallelism economics at scale).

    Sizing uses the actual on-disk byte size of the input, not row
    counts, so it adapts to compression ratio. Returns the new file
    count. Rewrite is staged through a sibling temp dir, the source is
    moved ASIDE to a ``__precompact_`` backup (never deleted before the
    swap succeeds), the compacted output renamed into place, and only
    then is the backup removed — a crash at any step leaves either the
    original or the compacted data recoverable (worst case: the data
    sits at the backup path, named discoverably next to the target).

    Sizing and the swap go through the Hadoop FileSystem API —
    ``listFiles`` for sizes, ``rename`` + ``delete`` for the swap — and
    resolve ``path`` the way ``spark.read`` does (a plain path lands on
    the default filesystem), so the same maintenance pass runs on
    ``file:``, ``gs://``, ``s3a://``, ... through whatever connector the
    cluster ships. NOTE: on object stores "rename" is a server-side
    copy, not atomic — run compaction from a single maintenance job, not
    concurrently with writers (same constraint every table-format-less
    compactor has).
    """
    import uuid

    def _rewrite(n_files: int, out_uri: str) -> None:
        df = spark.read.format("parquet").load(path)
        (
            df.repartition(n_files)
            .write.format("parquet")
            .option("compression", "zstd")
            .mode("overwrite")
            .save(out_uri)
        )

    jvm, _gw, fs, src_p = hadoop_fs(path, "compact_files")
    # part files under a leftover _temporary/ dir from a crashed prior
    # write must not inflate the sizing target: data_files skips a file
    # when ANY path component is hidden, not just the leaf
    total_bytes = sum(f.size for f in data_files(path))
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    tag = uuid.uuid4().hex[:8]
    tmp_uri = f"{path.rstrip('/')}__compact_{tag}"
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp_uri)
    bak_p = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}__precompact_{tag}")
    _rewrite(n_files, tmp_uri)
    # backup-then-swap: the source is never deleted before the
    # compacted output is in place (a crash leaves the data at a
    # discoverable __precompact_ sibling, not gone)
    if not fs.rename(src_p, bak_p):
        raise IOError(
            f"compact_files: could not move {path} aside for the swap; "
            f"compacted output left at {tmp_uri}, source untouched"
        )
    if not fs.rename(tmp_p, src_p):
        restored = fs.rename(bak_p, src_p)
        raise IOError(
            f"compact_files: rename {tmp_uri} -> {path} failed; "
            + (
                "source restored, compacted output left at the tmp path"
                if restored
                else f"RESTORE ALSO FAILED — original data is at "
                f"{bak_p.toString()}, compacted output at {tmp_uri}"
            )
        )
    fs.delete(bak_p, True)
    return n_files


def write_export(df: DataFrame, config: SyncConfig) -> str:
    """Write ``df`` per the sync config; returns the output URI.

    Mirrors reference write semantics: mode=overwrite, gzip compression,
    optional maxRecordsPerFile, CSV gets a header row. (We do not
    reproduce the reference's double-slash URI quirk,
    ``gs://bucket//prefix/`` at export.py:226/232 — single slash here.)
    """
    if not config.output_uri:
        raise ValueError("output_uri is required")
    fmt = ExportFormat(config.export_format)

    if fmt == ExportFormat.CSV:
        # fail early with the offending columns — Spark's CSV writer only
        # rejects struct/array/map deep inside the write job (SURVEY.md §7:
        # the reference surfaces this as an opaque mid-job analysis error)
        from pyspark.sql.types import ArrayType, MapType, StructType

        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            raise ValueError(
                "CSV export cannot serialize nested columns "
                f"{complex_cols}; drop/flatten them (to_json) or use the "
                "json/parquet format"
            )

    single_file = config.single_file
    if single_file is None:
        single_file = fmt == ExportFormat.CSV and not config.partition_by  # reference compat
    out = df.coalesce(1) if single_file else df

    writer = out.write.format(fmt.value).mode("overwrite")
    if config.partition_by:
        writer = writer.partitionBy(*config.partition_by)
    compression = config.compression
    if fmt in (ExportFormat.PARQUET, ExportFormat.ORC) and compression == "gzip":
        compression = "zstd"
    if compression:
        writer = writer.option("compression", compression)
    if config.max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", config.max_records_per_file)
    if fmt == ExportFormat.CSV:
        writer = writer.option("header", "true")
    writer.save(config.output_uri)
    return config.output_uri


def clustered_frame(
    df: DataFrame, cluster_columns: list[str], *, num_partitions: int | None = None
) -> DataFrame:
    """Range-partition + sort a frame so each output file covers a
    narrow, non-overlapping slice of the cluster key (single-dimension
    ZORDER-lite). Exposed separately from the write so plan tests can
    assert the rangepartitioning Exchange."""
    cols = [F.col(c) for c in cluster_columns]
    out = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    return out.sortWithinPartitions(*cols)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_columns: list[str],
    *,
    num_partitions: int | None = None,
) -> str:
    """Write parquet files clustered on ``cluster_columns``: a range-partition
    shuffle (sampled split points, so skewed keys still spread) then an
    in-partition sort. Each parquet file's min/max stats for the key
    then span a narrow range, so any engine reading the output (Spark,
    DuckDB, Trino) can skip most files for key-range predicates — the
    scan-locality half of bucketing, without requiring a metastore
    table. At 100 TB this is what makes time-range queries on exported
    data read 1% of the files instead of all of them."""
    clustered_frame(df, cluster_columns, num_partitions=num_partitions).write.format(
        "parquet"
    ).mode("overwrite").save(path)
    return path


def zorder_key(
    df: DataFrame, columns: list[str], *, bits_per_column: int = 8
) -> DataFrame:
    """Append ``__zkey``: the Z-order (Morton) interleaving of the
    quantized cluster columns — multi-dimensional locality for file
    skipping, same idea as Delta's OPTIMIZE ZORDER BY re-expressed as
    plain column arithmetic.

    Each column is min/max-normalized into ``2^bits_per_column`` ranks
    (bounds from a broadcast 1-row aggregate — one cheap extra pass),
    then the rank bits are interleaved so nearby (c1, c2, ...) tuples
    get nearby keys. Range-partitioning + sorting by ``__zkey`` then
    gives every output file a small bounding BOX in all cluster
    dimensions at once, where 1-d clustering gives a narrow range in
    one dimension and the full range in the others. Everything is
    builtin integer expressions — codegen'd, no UDF, no shuffle beyond
    the final range partition."""
    n = 1 << bits_per_column
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in columns],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in columns],
    )
    out = df.crossJoin(F.broadcast(bounds))
    # stage ranks as attributes first so the quantization expression
    # appears once per column, not once per interleaved bit
    rank_cols = {}
    for c in columns:
        wb = F.width_bucket(
            F.col(c).cast("double"), F.col(f"__lo_{c}"), F.col(f"__hi_{c}"), F.lit(n)
        )
        rank_cols[f"__rank_{c}"] = F.least(F.greatest(wb - 1, F.lit(0)), F.lit(n - 1))
    out = out.withColumns(rank_cols)
    # the engine's single canonical Morton interleave (operators/layout):
    # bit i of column j -> position i*N + j, same key space as the
    # raw-integer layout ops and the zorder_layout oracle query
    from pyspark_unload_to_gcs_spark.operators.layout import interleave_bits

    z = interleave_bits(
        [F.col(f"__rank_{c}") for c in columns], bits=bits_per_column
    )
    return out.withColumn("__zkey", z).drop(
        *[f"__lo_{c}" for c in columns],
        *[f"__hi_{c}" for c in columns],
        *rank_cols.keys(),
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_columns: list[str],
    *,
    num_partitions: int | None = None,
    bits_per_column: int = 8,
) -> str:
    """Write parquet files Z-order-clustered on several columns: each file's
    min/max stats are narrow in EVERY cluster dimension, so predicates
    on any subset of them skip files. Use over ``write_clustered``
    when queries filter on more than one column."""
    keyed = zorder_key(df, cluster_columns, bits_per_column=bits_per_column)
    out = (
        keyed.repartitionByRange(num_partitions, "__zkey")
        if num_partitions
        else keyed.repartitionByRange("__zkey")
    )
    out.sortWithinPartitions("__zkey").drop("__zkey").write.format("parquet").mode(
        "overwrite"
    ).save(path)
    return path


MANIFEST_NAME = "_MANIFEST.json"


def _md5_hex_jvm(jvm, fs, path: str) -> str:
    """md5 of a file, streamed ENTIRELY JVM-side via commons-codec
    DigestUtils — only the 32-char hex crosses py4j, so a multi-GB
    part file never materializes on the Python side (commons-codec
    ships on Spark's classpath)."""
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return str(jvm.org.apache.commons.codec.digest.DigestUtils.md5Hex(stream))
    finally:
        stream.close()


def write_manifest(output_uri: str, *, row_count: int | None = None) -> dict:
    """Write a ``_MANIFEST.json`` control document next to an export:
    per-file byte sizes + md5 checksums, file count, total bytes, and
    (optionally) the exported row count — the exactly-once handoff
    artifact a downstream consumer validates BEFORE ingesting (a
    partially-visible export directory fails the manifest check
    instead of silently under-loading). Files enumerate through
    ``storage.data_files`` (object-store URIs work like local paths);
    hashing streams JVM-side; the manifest is written to a temporary
    name and renamed over any previous one in a single step
    (``storage.replace_text_atomic``), so an export is never left without a
    manifest and its presence implies the listed files were complete
    when hashed. Returns the manifest dict."""
    import json

    jvm, _gw, fs, root = hadoop_fs(output_uri, "write_manifest")
    if not fs.exists(root):
        raise FileNotFoundError(f"write_manifest: no export at {output_uri}")
    entries = [
        {"path": f.rel, "bytes": f.size, "md5": _md5_hex_jvm(jvm, fs, f.path)}
        for f in data_files(output_uri)
    ]
    manifest = {
        "version": 1,
        "n_files": len(entries),
        "total_bytes": sum(e["bytes"] for e in entries),
        "files": entries,
    }
    if row_count is not None:
        manifest["row_count"] = int(row_count)
    replace_text_atomic(
        child(output_uri, MANIFEST_NAME), json.dumps(manifest, indent=1)
    )
    return manifest


def validate_manifest(output_uri: str) -> dict:
    """Re-enumerate an export directory against its ``_MANIFEST.json``
    and raise ValueError naming the first divergence (missing / extra /
    resized / corrupted file); returns the manifest on success — the
    consumer-side half of the exactly-once handoff. Cheap checks run
    FIRST (set membership, byte sizes from the listing); only
    size-matching files are hashed. Checksum/EOF read failures surface
    as divergences; infrastructure errors (auth, network) propagate
    untranslated so a transient timeout is not mistaken for
    corruption."""
    import json

    jvm, _gw, fs, _root = hadoop_fs(output_uri, "validate_manifest")
    text = read_text(child(output_uri, MANIFEST_NAME))
    if text is None:
        raise ValueError(f"validate_manifest: no {MANIFEST_NAME} under {output_uri}")
    manifest = json.loads(text)

    listed = {f.rel: f for f in data_files(output_uri)}
    want = {e["path"]: e for e in manifest["files"]}
    missing = sorted(set(want) - set(listed))
    extra = sorted(set(listed) - set(want))
    if missing:
        raise ValueError(f"validate_manifest: missing files {missing[:3]}")
    if extra:
        raise ValueError(f"validate_manifest: unexpected files {extra[:3]}")
    for rel, e in sorted(want.items()):
        got_bytes = listed[rel].size
        if got_bytes != e["bytes"]:
            raise ValueError(
                f"validate_manifest: {rel} diverges "
                f"(bytes {got_bytes} vs {e['bytes']})"
            )
    for rel, e in sorted(want.items()):
        try:
            got_md5 = _md5_hex_jvm(jvm, fs, listed[rel].path)
        except Exception as exc:
            msg = str(exc)
            if "ChecksumException" in msg or "EOFException" in msg:
                raise ValueError(
                    f"validate_manifest: {rel} diverges (unreadable: "
                    f"{msg.splitlines()[0][:120]})"
                ) from exc
            raise  # infrastructure error — not a data divergence
        if got_md5 != e["md5"]:
            raise ValueError(
                f"validate_manifest: {rel} diverges "
                f"(md5 {got_md5} vs {e['md5']})"
            )
    return manifest
