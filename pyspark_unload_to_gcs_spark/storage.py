"""The storage layer: every file the package lists, reads, claims or
replaces outside Spark's DataFrame I/O goes through the JVM Hadoop
FileSystem of the active session here, so any URI scheme the cluster
can write (``file:``, ``hdfs:``, ``gs:``, ``s3a:``) works alike and a
plain path resolves as ``spark.read`` resolves it. It holds the data
file rule (``data_files``), the text reader (``read_text``) and the
claim (``create_exclusive``) once.

Fallback rule: in a process with no active SparkSession (the py4j-less
workers of the ``versioned_commits`` DataSource, which hand local paths
to pyarrow) the reads ``read_text``, ``committed_dirs`` and
``data_files`` use the local filesystem; writes, deletes and claims
never fall back — ``hadoop_fs`` raises.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

from pyspark.sql import SparkSession


class DataFile(NamedTuple):
    rel: str  # path below the listed root, '/'-separated
    path: str  # the root joined with ``rel``, in the root's own form
    size: int  # bytes


def local_path(path: str) -> str:
    """``path`` without a ``file:`` scheme; other schemes pass through
    unchanged (callers that need a local file check ``urlparse``)."""
    if path.startswith("file://"):
        # honor an authority component ('file://localhost/data/t' is
        # RFC-legal): urlparse keeps only the path, instead of a naive
        # prefix strip producing the relative 'localhost/data/t'
        from urllib.parse import urlparse

        return urlparse(path).path or "/"
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def child(path: str, name: str) -> str:
    """URI-safe child path (os.path.join would mangle scheme URIs)."""
    return path.rstrip("/") + "/" + name


def _jfs(path: str):
    """(jvm, gateway, fs, Path) via the active session's Hadoop conf, or
    None in a process without a SparkSession (see the fallback rule)."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, spark.sparkContext._gateway, fs, root


def hadoop_fs(path: str, op: str):
    """(jvm, gateway, fs, Path) for ``path``; raises in a process without
    a SparkSession, because ``op`` writes, deletes or claims."""
    handle = _jfs(path)
    if handle is None:
        raise RuntimeError(
            f"{op}: no active SparkSession — it goes through the JVM "
            "Hadoop FileSystem API and cannot run in a py4j-less worker "
            "process"
        )
    return handle


def qualified_path(path: str) -> str:
    """The fully-qualified form of ``path``, so ``/t``, ``/t/`` and
    ``file:/t`` compare equal (the local absolute path without a
    SparkSession)."""
    handle = _jfs(path)
    if handle is None:
        return os.path.abspath(local_path(path))
    _jvm, _gw, fs, p = handle
    return str(fs.makeQualified(p).toString())


def read_text(path: str) -> str | None:
    """Contents of a file as UTF-8 text, or None if it does not exist."""
    handle = _jfs(path)
    if handle is None:
        try:
            with open(local_path(path), encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return None
    jvm, _gw, fs, p = handle
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # streamed JVM-side; only the decoded text crosses py4j
        return str(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def replace_text_atomic(path: str, text: str) -> None:
    """Write-to-temp + rename-with-OVERWRITE (FileContext) — atomic on
    local/HDFS, a single-object PUT on object stores; a reader never
    sees a half-written file."""
    jvm, gw, fs, dst = hadoop_fs(path, "storage.replace_text_atomic")
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri(), fs.getConf()
    )
    ren = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(ren, 1)
    opts[0] = ren.OVERWRITE
    fc.rename(tmp, dst, opts)


def _is_already_exists_error(e: Exception) -> bool:
    """True when a py4j-wrapped create(path, overwrite=False) failure
    means the file already exists: a ``*FileAlreadyExistsException``
    (hadoop.fs and java.nio spellings) or a bare IOException saying
    "already exists" anywhere in the Java cause chain. The message
    match on the Python exception is used only without a chain."""
    jexc = getattr(e, "java_exception", None)
    if jexc is None:
        return "FileAlreadyExistsException" in str(e) or "already exists" in str(e)
    for _ in range(8):
        if jexc is None:
            break
        name = str(jexc.getClass().getName())
        if name.endswith("FileAlreadyExistsException") or (
            name.endswith("IOException") and "already exists" in str(jexc.getMessage())
        ):
            return True
        jexc = jexc.getCause()
    return False


def create_exclusive(path: str, text: str) -> None:
    """Create ``path`` holding ``text`` only if it does not exist yet;
    raises FileExistsError when another writer got there first. Atomic
    where create-no-overwrite is (local, HDFS, GCS); S3A checks then
    PUTs, which narrows but does not close the race. A write that fails
    after the create deletes the file, so a claim is whole or absent."""
    _jvm, _gw, fs, p = hadoop_fs(path, "storage.create_exclusive")
    try:
        out = fs.create(p, False)
    except Exception as e:
        if _is_already_exists_error(e):
            raise FileExistsError(path) from None
        raise
    try:
        try:
            out.write(text.encode("utf-8"))
        finally:
            out.close()
    except BaseException:
        fs.delete(p, False)
        raise


def delete(path: str, *, recursive: bool = False) -> bool:
    """Delete a file (or a directory tree when ``recursive``)."""
    _jvm, _gw, fs, p = hadoop_fs(path, "storage.delete")
    return bool(fs.delete(p, recursive))


def committed_dirs(path: str, prefix: str) -> list[tuple[int, str]]:
    """COMMITTED ``<prefix>=<n>`` directories under ``path`` as
    ``(n, dir)`` pairs sorted by n — the one lister of versioned
    layout: table versions and fold state (``v=``), append-only slices
    (``b=``). The commit marker is the ``_SUCCESS`` file Spark's
    FileOutputCommitter writes LAST, so a torn multi-file write (some
    part files landed, no _SUCCESS) never counts as committed."""
    pat = re.compile(rf"(?:^|/){re.escape(prefix)}=(\d+)$")
    handle = _jfs(path)
    if handle is None:
        local = local_path(path)
        names = os.listdir(local) if os.path.isdir(local) else []
        return sorted(
            (int(m.group(1)), os.path.join(local, name))
            for name in names
            if (m := pat.search(name))
            and os.path.isfile(os.path.join(local, name, "_SUCCESS"))
        )
    jvm, _gw, fs, _root = handle
    hpath = jvm.org.apache.hadoop.fs.Path
    out = []
    for st in fs.globStatus(hpath(child(path, f"{prefix}=*"))) or []:
        p = st.getPath()
        d = str(p.toString())
        if (m := pat.search(d)) and fs.exists(hpath(p, "_SUCCESS")):
            out.append((int(m.group(1)), d))
    return sorted(out)


def data_files(path: str) -> list[DataFile]:
    """Every data file under ``path`` (recursive; ``path`` itself when it
    is a file; empty when missing), sorted by ``rel``. A file whose path
    below the root has ANY component starting with ``_`` or ``.`` is not
    data: hive ``key=value`` dirs are walked, while ``_SUCCESS``,
    ``.crc`` sidecars and ``_temporary/`` leftovers of a crashed write
    are skipped — the rule Spark's file index uses."""
    handle = _jfs(path)
    if handle is None:
        local = local_path(path)
        if os.path.isfile(local):
            return [DataFile(os.path.basename(local), path, os.path.getsize(local))]
        listed = [
            (os.path.relpath(f, local).replace(os.sep, "/"), os.path.getsize(f))
            for d, _dirs, names in os.walk(local)
            for f in (os.path.join(d, n) for n in names)
        ]
    else:
        _jvm, _gw, fs, root = handle
        if not fs.exists(root):
            return []
        base = str(fs.makeQualified(root).toUri().getPath())
        listed = []
        it = fs.listFiles(root, True)
        while it.hasNext():
            st = it.next()
            p = st.getPath()
            full = str(p.toUri().getPath())
            if full == base:  # the root is itself a file
                return [DataFile(str(p.getName()), path, int(st.getLen()))]
            rel = full[len(base):].lstrip("/") if full.startswith(base) else str(p.getName())
            listed.append((rel, int(st.getLen())))
    return sorted(
        DataFile(rel, child(path, rel), size)
        for rel, size in listed
        if not any(part.startswith(("_", ".")) for part in rel.split("/"))
    )
