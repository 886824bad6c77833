"""One scratch root per session: ``session.scratch_dir`` is the only place
in the package that creates a temporary directory. No module calls
``tempfile.mkdtemp``, ``TemporaryDirectory`` or ``NamedTemporaryFile``
or imports ``tempfile`` itself, so every fixture, replay state, stream
checkpoint and export round-trip lands under its session's root, and
that root is removed when the session is collected or the interpreter
exits."""

import ast
import gc
import json
import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql.session import _monkey_patch_RDD

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "pyspark_unload_to_gcs_spark"
CREATORS = frozenset({"mkdtemp", "TemporaryDirectory", "NamedTemporaryFile"})
# (module, function) allowed to create temporary directories
HELPER = ("session.py", "scratch_dir")


def _temp_sites(tree):
    """(enclosing top-level function or None, what, line) for every
    ``tempfile`` import and every call named in ``CREATORS``."""
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Import) and any(
                a.name == "tempfile" for a in node.names
            ):
                yield owner, "import tempfile", node.lineno
            elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                yield owner, "import tempfile", node.lineno
            elif isinstance(node, ast.Call):
                func = node.func
                name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
                if name in CREATORS:
                    yield owner, f"{name}()", node.lineno


def _offenders(rel: str, source: str):
    return [
        f"{rel}:{line} {what}"
        for owner, what, line in _temp_sites(ast.parse(source))
        if rel != HELPER[0] or (what != "import tempfile" and owner != HELPER[1])
    ]


def test_only_scratch_dir_creates_temp_dirs():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths, f"no modules under {PACKAGE}"
    found = []
    for path in paths:
        found += _offenders(path.relative_to(PACKAGE).as_posix(), path.read_text())
    modules = sorted({f.split(":")[0] for f in found})
    assert not found, (
        f"temporary directories outside session.scratch_dir in {len(modules)} "
        f"modules {modules}: {found}"
    )


def test_guard_sees_a_temp_dir():
    snippet = (
        "import tempfile\n"
        "from tempfile import mkdtemp\n"
        "def scratch_dir(spark, prefix):\n"
        "    return tempfile.mkdtemp(prefix=prefix)\n"
        "def op():\n"
        "    import tempfile as t\n"
        "    a = mkdtemp()\n"
        "    with t.TemporaryDirectory() as d, t.NamedTemporaryFile() as f:\n"
        "        return a, d, f\n"
        "x = tempfile.mkdtemp()\n"
    )
    flagged = sorted(_offenders("m.py", snippet))
    assert flagged == [
        "m.py:1 import tempfile",
        "m.py:10 mkdtemp()",
        "m.py:2 import tempfile",
        "m.py:4 mkdtemp()",
        "m.py:6 import tempfile",
        "m.py:7 mkdtemp()",
        "m.py:8 NamedTemporaryFile()",
        "m.py:8 TemporaryDirectory()",
    ]
    # session.py may import tempfile; only scratch_dir may create
    assert sorted(_offenders("session.py", snippet)) == [
        "session.py:10 mkdtemp()",
        "session.py:7 mkdtemp()",
        "session.py:8 NamedTemporaryFile()",
        "session.py:8 TemporaryDirectory()",
    ]


def test_scratch_dirs_share_one_root_per_session(spark):
    from pyspark_unload_to_gcs_spark.session import scratch_dir

    a, b = scratch_dir(spark, "probe_a_"), scratch_dir(spark, "probe_b_")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)
    assert os.path.dirname(a) == os.path.dirname(b)
    assert os.path.basename(a).startswith("probe_a_") and not os.listdir(a)


def test_dropped_sibling_scratch_root_is_removed(spark):
    from pyspark_unload_to_gcs_spark.session import scratch_dir

    sibling = spark.newSession()
    _monkey_patch_RDD(spark)  # every SparkSession constructor re-points RDD.toDF
    path = scratch_dir(sibling, "probe_")
    root = os.path.dirname(path)
    Path(path, "f").write_text("x")
    assert root != os.path.dirname(scratch_dir(spark, "probe_"))
    del sibling
    gc.collect()
    assert not os.path.exists(root)
    assert os.path.isdir(os.path.dirname(scratch_dir(spark, "probe_")))


_BUILD_ALL = """
import json, os, sys
from pyspark_unload_to_gcs_spark import registry
from pyspark_unload_to_gcs_spark.session import get_spark, scratch_dir

sf = sys.argv[1]
spark = get_spark(master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
for _name, build in registry.fixtures():
    build(spark, sf)
queries = registry.queries()
rows = {n: queries[n](spark, sf).count()
        for n in ("heavy_hitters_stream_replay", "versioned_cdf_merge_stream_replay")}
root = os.path.dirname(scratch_dir(spark, "probe_"))
print(json.dumps({"root": root, "entries": sorted(os.listdir(root)), "rows": rows}))
"""


def test_scratch_root_is_gone_after_a_normal_exit(tmp_path, sf_dir):
    """A child with ``TMPDIR`` pointed at a fresh directory builds every
    shared fixture and two replays, then exits without cleaning up
    itself: afterwards nothing the package made is left there."""
    tmp = tmp_path / "tmpdir"
    tmp.mkdir()
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": str(REPO),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _BUILD_ALL, sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert Path(out["root"]).parent == tmp
    assert all(n > 0 for n in out["rows"].values()), out["rows"]
    # one directory per fixture, replay state and stream dir, all in the root
    assert sorted(e[:-8] for e in out["entries"]) == [
        "containment_frozen_index_",
        "delta_orders_",
        "eng_bucketed_",
        "heavy_hitters_stream_replay_",
        "pq_index_incr_",
        "probe_",
        "versioned_cdf_merge_state_",
        "versioned_cdf_merge_stream_replay_ckpt_",
        "versioned_orders_",
    ], out["entries"]
    assert not Path(out["root"]).exists()
    assert sorted(os.listdir(tmp)) == []
