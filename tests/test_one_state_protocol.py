"""The streaming folds share one versioned-state protocol: streams start
only in ``rollup.start_fold`` (the one ``foreachBatch`` and
``availableNow``), fold state versions ``v=<batch_id>`` are built only
in ``rollup.write_state``, and nothing under ``streaming/`` lists or
reads state with local-filesystem calls (``glob``, ``os.path.exists``,
``open``), which miss state on ``file:`` and object-store URIs; the
lister is ``storage.committed_dirs``."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_unload_to_gcs_spark"
STARTER = ("streaming/rollup.py", "start_fold")
WRITER = ("streaming/rollup.py", "write_state")
LOCAL_FS = {"exists", "isdir", "isfile", "listdir", "scandir", "walk"}


def _modules():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths, f"no modules under {PACKAGE}"
    for path in paths:
        yield path.relative_to(PACKAGE).as_posix(), ast.parse(path.read_text(), str(path))


def _with_function(tree):
    """(node, name of the innermost enclosing def or None) for every node."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            yield child, inner
            yield from walk(child, inner)

    yield from walk(tree, None)


def _stream_starts(rel, tree):
    for node, fn in _with_function(tree):
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "foreachBatch":
                yield "foreachBatch", (rel, fn)
            if any(k.arg == "availableNow" for k in node.keywords):
                yield "availableNow", (rel, fn)


def _version_paths(rel, tree):
    """f-strings that splice a value right after a literal ``v=``."""
    for node, fn in _with_function(tree):
        if isinstance(node, ast.JoinedStr):
            parts = node.values
            if any(
                isinstance(a, ast.Constant)
                and str(a.value).endswith("v=")
                and isinstance(b, ast.FormattedValue)
                for a, b in zip(parts, parts[1:])
            ):
                yield rel, fn


def _local_fs_calls(rel, tree):
    for node, fn in _with_function(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.name for a in node.names] + [getattr(node, "module", None)]
            if "glob" in names:
                yield rel, fn, "glob"
        elif isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name) and f.id == "open":
                yield rel, fn, "open"
            elif isinstance(f, ast.Attribute) and f.attr in LOCAL_FS and _is_os(f.value):
                yield rel, fn, f.attr


def _is_os(node):
    """``os`` / ``os.path`` under any import alias (``_os.path``)."""
    if isinstance(node, ast.Attribute) and node.attr == "path":
        node = node.value
    return isinstance(node, ast.Name) and node.id.lstrip("_") == "os"


def test_streams_start_only_in_start_fold():
    found = [
        (kind, where)
        for rel, tree in _modules()
        for kind, where in _stream_starts(rel, tree)
    ]
    assert sorted(found) == [("availableNow", STARTER), ("foreachBatch", STARTER)], found


def test_fold_state_versions_built_only_in_write_state():
    # sources/ holds the versioned TABLE layout (commit ledger), not fold state
    found = {
        where
        for rel, tree in _modules()
        if not rel.startswith("sources/")
        for where in _version_paths(rel, tree)
    }
    assert found == {WRITER}, found


def test_streaming_state_is_not_read_through_the_local_filesystem():
    found = [
        hit
        for rel, tree in _modules()
        if rel.startswith("streaming/")
        for hit in _local_fs_calls(rel, tree)
    ]
    assert not found, f"local-filesystem state I/O under streaming/: {found}"


def test_guard_sees_each_violation():
    tree = ast.parse(
        "import glob\n"
        "def f(df, p, batch_id):\n"
        "    df.writeStream.trigger(availableNow=True).foreachBatch(g)\n"
        "    df.write.parquet(p + f'/v={batch_id}')\n"
        "    os.path.exists(p) and open(p) and state.exists()\n"
    )
    assert sorted(k for k, _w in _stream_starts("m.py", tree)) == [
        "availableNow",
        "foreachBatch",
    ]
    assert list(_version_paths("m.py", tree)) == [("m.py", "f")]
    assert [k for *_r, k in _local_fs_calls("m.py", tree)] == ["glob", "exists", "open"]
