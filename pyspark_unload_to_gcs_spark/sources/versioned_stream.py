"""Spark 4 Python DataSource over the versioned-parquet table
(sources/versioned.py): batch reads resolve a snapshot, streaming
reads emit each newly COMMITTED version as one micro-batch — the
ledger-gated ingest source that a bare file stream cannot be (Spark's
file source lists files with no commit protocol, so a torn multi-file
write can surface partially; this source only ever exposes versions
whose ``_SUCCESS`` + ledger entry exist, and its offset is the ledger
version number, giving exactly-once across restarts for free).

Usage:

    spark.dataSource.register(VersionedCommitsDataSource)
    # batch: one resolved snapshot (+ commit stamps)
    spark.read.format("versioned_commits").option("path", p)
         .option("as_of_ms", 2500).load()
    # stream: every committed version, in order, with commit stamps
    spark.readStream.format("versioned_commits").option("path", p).load()

Streamed rows carry ``_commit_version`` / ``_commit_timestamp`` next
to the table columns; downstream exactly-once folds (streaming/dedup,
merge, rollup) consume them unchanged. Reads happen in Python workers
via pyarrow (footer-true schema, per-file partitions); this is an
ingest-control source, not a scan accelerator — for bulk snapshot
scans prefer ``sources.versioned.snapshot_at_ms`` (JVM parquet reader).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from pyspark_unload_to_gcs_spark.operators.cdc import commit_as_of
from pyspark_unload_to_gcs_spark.sources.versioned import table_history
from pyspark_unload_to_gcs_spark.storage import (
    DataFile,
    child,
    data_files,
    local_path,
)

_ARROW_TO_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "binary": "binary",
    "large_binary": "binary",
    "date32[day]": "date",
}


def _ddl_for(path: str) -> str:
    """Spark DDL from the parquet schema of a committed version file
    (pyarrow, driver-side; timestamps map to TimestampType)."""
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema_arrow
    parts = []
    for field in schema:
        t = str(field.type)
        if t.startswith("timestamp"):
            ddl = "timestamp"
        elif t.startswith("decimal"):
            # pyarrow renders 'decimal128(p, s)' / 'decimal256(p, s)',
            # which Spark's DDL parser rejects — re-spell from the
            # typed precision/scale.
            ddl = f"decimal({field.type.precision},{field.type.scale})"
        else:
            ddl = _ARROW_TO_DDL.get(t)
        if ddl is None:
            raise ValueError(
                f"versioned_commits: unsupported parquet type {t!r} "
                f"for column {field.name!r}"
            )
        parts.append(f"`{field.name}` {ddl}")
    return ", ".join(parts)


def _version_files(path: str, version: int) -> list[DataFile]:
    """Part files of a committed version (``storage.data_files``). This
    Python DataSource reads them with pyarrow, in py4j-less workers too,
    so its scope is local/``file:`` paths (the module docstring's
    ingest-control posture)."""
    return data_files(child(path, f"v={version}"))


class _FilePartition(InputPartition):
    """One reader task: one or more part files of ONE committed
    version (``file_path`` stays the first file's path for
    compatibility; ``file_paths`` is the full group)."""

    def __init__(self, file_path: str | list[str], version: int, commit_ms: int):
        self.file_paths = (
            [file_path] if isinstance(file_path, str) else list(file_path)
        )
        self.file_path = self.file_paths[0]
        self.version = version
        self.commit_ms = commit_ms


# Target bytes per reader partition: one Python worker round-trip per
# PART FILE would make tiny commits pay several task startups for KBs
# of data, while at real scale a fixed per-file split stays fine
# because files are large. Group a version's
# files by cumulative size up to this target — small commits collapse
# to one task, big commits keep one task per ~128 MB, the same
# economics as spark.sql.files.maxPartitionBytes.
_TARGET_PARTITION_BYTES = 128 * 1024 * 1024


def _grouped_partitions(
    path: str, version: int, commit_ms: int, target_bytes: int | None = None
) -> list[_FilePartition]:
    """Partitions for one committed version: files packed
    first-fit-in-listing-order into ~_TARGET_PARTITION_BYTES groups.
    Listing order is sorted, so the grouping is deterministic for a
    committed (immutable) version — replayed batches stay
    byte-identical."""
    if target_bytes is None:
        target_bytes = _TARGET_PARTITION_BYTES
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for f in _version_files(path, version):
        if cur and cur_bytes + f.size > target_bytes:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(local_path(f.path))
        cur_bytes += f.size
    if cur:
        groups.append(cur)
    return [_FilePartition(g, version, commit_ms) for g in groups]


def _arrow_targets(schema) -> list:
    """[(name, pa.DataType)] for the table columns of the resolved
    Spark schema (stamps excluded — appended per partition)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return [
        (f.name, to_arrow_type(f.dataType))
        for f in schema.fields
        if f.name not in ("_commit_version", "_commit_timestamp")
    ]


def _read_file(partition: _FilePartition, targets: list):
    """Yield pyarrow RecordBatches for one committed partition's part
    file(s) aligned to the resolved schema: columns a version predates
    come back as typed NULLs (schema evolution — additive only), and
    the commit stamps are appended as constants. The stamp arrays are
    built as numpy full-arrays: ``pa.array([v] * n)`` would materialize
    two n-element Python lists per batch — pure interpreter overhead on
    a constant column."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    for file_path in partition.file_paths:
        table = pq.read_table(file_path)
        for batch in table.to_batches():
            n = batch.num_rows
            arrays, names = [], []
            for name, typ in targets:
                if name in batch.schema.names:
                    arrays.append(batch.column(name))
                else:
                    arrays.append(pa.nulls(n, typ))
                names.append(name)
            arrays += [
                pa.array(np.full(n, partition.version, dtype=np.int64)),
                pa.array(np.full(n, partition.commit_ms, dtype=np.int64)),
            ]
            names += ["_commit_version", "_commit_timestamp"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)


class _SnapshotReader(DataSourceReader):
    def __init__(
        self,
        path: str,
        as_of_ms: int | None,
        targets: list,
        target_bytes: int | None = None,
    ):
        self._targets = targets
        history = table_history(path)  # newest first
        if not history:
            raise ValueError(f"versioned_commits: no commits at {path!r}")
        entry = (
            history[0]
            if as_of_ms is None
            else commit_as_of(history, as_of_ms, table=path)
        )
        self._parts = _grouped_partitions(
            path, entry["version"], entry["commit_ms"], target_bytes
        )

    def partitions(self):
        return self._parts

    def read(self, partition):
        # batch snapshots carry the same commit stamps as the stream:
        # one schema for both paths, and the resolved version is
        # visible in the result instead of only in logs
        yield from _read_file(partition, self._targets)


class _CommitsStreamReader(DataSourceStreamReader):
    """Offset = last emitted ledger version; each micro-batch covers
    the versions committed since. Offsets are JSON dicts
    ({"version": N}); a restart resumes from the checkpointed offset,
    and because versions are immutable once committed the replayed
    batch is byte-identical — exactly-once composition with the
    versioned-state folds downstream."""

    def __init__(self, path: str, targets: list, target_bytes: int | None = None):
        self._path = path
        self._targets = targets
        self._target_bytes = target_bytes

    def initialOffset(self):
        return {"version": -1}

    def latestOffset(self):
        history = table_history(self._path)  # newest first
        return {"version": history[0]["version"] if history else -1}

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        by_version = {e["version"]: e for e in table_history(self._path)}
        parts = []
        for v in range(lo + 1, hi + 1):
            e = by_version.get(v)
            if e is None:
                continue  # gap = torn write, invisible by contract
            parts.extend(
                _grouped_partitions(
                    self._path, v, e["commit_ms"], self._target_bytes
                )
            )
        return parts

    def read(self, partition):
        yield from _read_file(partition, self._targets)

    def commit(self, end):
        pass

    def stop(self):
        pass


class VersionedCommitsDataSource(DataSource):
    """``format("versioned_commits")`` — see module docstring."""

    @classmethod
    def name(cls):
        return "versioned_commits"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("versioned_commits: option 'path' is required")
        return path

    def schema(self) -> str:
        history = table_history(self._path())  # newest first
        if not history:
            raise ValueError(
                f"versioned_commits: no commits at {self._path()!r} to "
                "infer a schema from (pass .schema(...) explicitly)"
            )
        # LATEST version carries the table's current (evolved) schema;
        # older versions align via typed-NULL padding in the readers
        files = _version_files(self._path(), history[0]["version"])
        base = _ddl_for(local_path(files[0].path))
        # both paths stamp commit metadata — one schema serves batch
        # snapshot reads and the commit stream alike
        return base + ", `_commit_version` bigint, `_commit_timestamp` bigint"

    def _target_bytes(self) -> int | None:
        """Optional ``partition_bytes`` reader option: target bytes per
        reader partition (see ``_grouped_partitions``); default is the
        module/env constant."""
        v = self.options.get("partition_bytes")
        return int(v) if v is not None else None

    def reader(self, schema):
        as_of = self.options.get("as_of_ms")
        return _SnapshotReader(
            self._path(),
            int(as_of) if as_of is not None else None,
            _arrow_targets(schema),
            self._target_bytes(),
        )

    def streamReader(self, schema):
        return _CommitsStreamReader(
            self._path(), _arrow_targets(schema), self._target_bytes()
        )
