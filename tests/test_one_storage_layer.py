"""The package has one storage layer: outside ``storage.py`` no module
lists, reads or claims files with local-filesystem calls (``glob``,
``os.listdir``, ``os.walk``, ``os.path.exists``/``isdir``/``isfile``,
builtin ``open``) or its own Hadoop calls (``create(``, ``IOUtils``),
and none imports an underscore filesystem helper. Local calls miss
``file:`` and object-store URIs, and a second copy of a rule (which
files are data, how a claim reports "already exists") drifts from the
first. The one exempt site writes WAV fixture bytes on an executor,
where no SparkSession exists."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_unload_to_gcs_spark"
STORAGE = "storage.py"
EXEMPT = {("registry_pipeline.py", "binaryfile_wav_ingest_q", "open")}
LOCAL_FS = {"exists", "isdir", "isfile", "listdir", "walk"}
FS_HELPERS = {
    "_sub",
    "_jfs",
    "_require_jfs",
    "_read_text",
    "_replace_text_atomic",
    "_strip_file_scheme",
    "_is_already_exists_error",
    "_iter_data_files",
    "_create_exclusive",
}


def _modules():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths, f"no modules under {PACKAGE}"
    for path in paths:
        yield path.relative_to(PACKAGE).as_posix(), ast.parse(path.read_text(), str(path))


def _with_function(tree):
    """(node, name of the outermost enclosing def or None) for every node."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            outer = fn
            if fn is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                outer = child.name
            yield child, outer
            yield from walk(child, outer)

    yield from walk(tree, None)


def _is_os(node):
    """``os`` / ``os.path`` under any import alias (``_os.path``)."""
    if isinstance(node, ast.Attribute) and node.attr == "path":
        node = node.value
    return isinstance(node, ast.Name) and node.id.lstrip("_") == "os"


def _storage_calls(rel, tree):
    """(module, function, kind) for every file-I/O site outside the layer."""
    for node, fn in _with_function(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            module = getattr(node, "module", None) or ""
            for alias in node.names:
                if alias.name == "glob" or module == "glob":
                    yield rel, fn, "glob"
                if alias.name in FS_HELPERS or (
                    alias.name.startswith("_") and module.endswith("storage")
                ):
                    yield rel, fn, alias.name
        elif isinstance(node, ast.Attribute):
            if node.attr in FS_HELPERS:
                yield rel, fn, node.attr
            elif node.attr == "IOUtils":
                yield rel, fn, "IOUtils"
        elif isinstance(node, ast.Name) and node.id == "IOUtils":
            yield rel, fn, "IOUtils"
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name) and f.id == "open":
                yield rel, fn, "open"
            elif isinstance(f, ast.Attribute):
                if f.attr in LOCAL_FS and _is_os(f.value):
                    yield rel, fn, f.attr
                elif f.attr == "create":
                    yield rel, fn, "create"


def test_file_io_goes_through_storage():
    found = [
        hit
        for rel, tree in _modules()
        if rel != STORAGE
        for hit in _storage_calls(rel, tree)
        if hit not in EXEMPT
    ]
    assert not found, f"file I/O outside storage.py: {found}"


def test_exempt_site_still_exists():
    """An exemption that matches nothing would hide a new site later."""
    hits = {hit for rel, tree in _modules() for hit in _storage_calls(rel, tree)}
    assert EXEMPT <= hits, EXEMPT - hits


def test_guard_sees_each_violation():
    tree = ast.parse(
        "import glob\n"
        "from pyspark_unload_to_gcs_spark.sources.versioned import _sub\n"
        "from pyspark_unload_to_gcs_spark.storage import _hidden, child\n"
        "def f(jvm, fs, p, V):\n"
        "    os.listdir(p) and _os.walk(p) and os.path.isfile(p)\n"
        "    os.path.exists(p) and os.path.isdir(p) and open(p)\n"
        "    fs.create(p, False) and jvm.org.apache.commons.io.IOUtils\n"
        "    V._read_text(p) and state.exists() and spark.createDataFrame([])\n"
    )
    assert [k for *_r, k in _storage_calls("m.py", tree)] == [
        "glob",
        "_sub",
        "_hidden",
        "listdir",
        "walk",
        "isfile",
        "exists",
        "isdir",
        "open",
        "create",
        "IOUtils",
        "_read_text",
    ]
    assert {where for _r, where, _k in _storage_calls("m.py", tree)} == {None, "f"}
