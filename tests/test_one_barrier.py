"""One materialization barrier: ``session.barrier`` is the only place in
the package that calls Spark's materialization API. No module calls
``localCheckpoint``, ``checkpoint``, ``persist``, ``cache`` or
``unpersist`` itself, so no persisted frame outlives its SparkSession
in the shared CacheManager, and the reliable-checkpoint policy holds
everywhere once a checkpoint directory is set."""

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
MATERIALIZERS = frozenset({"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"})
# (module, function) allowed to call them
HELPER = ("session.py", "barrier")


def _materializer_calls(tree):
    """(enclosing top-level function or None, attr, line) for every
    ``<expr>.<materializer>(...)`` call in ``tree``."""
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in MATERIALIZERS
            ):
                yield owner, node.func.attr, node.lineno


def _offenders(rel: str, source: str):
    return [
        f"{rel}:{line} .{attr}()"
        for owner, attr, line in _materializer_calls(ast.parse(source))
        if (rel, owner) != HELPER
    ]


def test_only_the_barrier_materializes():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths, f"no modules under {PACKAGE}"
    found = []
    for path in paths:
        found += _offenders(path.relative_to(PACKAGE).as_posix(), path.read_text())
    modules = sorted({f.split(":")[0] for f in found})
    assert not found, (
        f"materialization outside session.barrier in {len(modules)} modules "
        f"{modules}: {found}"
    )


def test_guard_sees_a_materializer():
    snippet = (
        "def barrier(df, *, eager):\n"
        "    return df.localCheckpoint(eager)\n"
        "def op(df):\n"
        "    df.persist()\n"
        "    out = df.select('a').localCheckpoint(eager=False)\n"
        "    df.unpersist()\n"
        "    return out.cache().checkpoint()\n"
        "x = y.persist()\n"
    )
    flagged = sorted(_offenders("m.py", snippet))
    assert flagged == [
        "m.py:2 .localCheckpoint()",
        "m.py:4 .persist()",
        "m.py:5 .localCheckpoint()",
        "m.py:6 .unpersist()",
        "m.py:7 .cache()",
        "m.py:7 .checkpoint()",
        "m.py:8 .persist()",
    ]
    # in session.py only the barrier's own call is allowed
    assert sorted(_offenders("session.py", snippet)) == [
        f.replace("m.py", "session.py") for f in flagged[1:]
    ]


def test_dropped_session_leaves_cache_manager_empty(spark):
    """Every operator that used to persist its barrier frame runs in a
    ``newSession()`` sibling; once the sibling and its frames are dropped
    the session-shared CacheManager holds nothing."""
    from pyspark_unload_to_gcs_spark.operators import dedup as D

    sibling = spark.newSession()
    _monkey_patch_RDD(spark)  # every SparkSession constructor re-points RDD.toDF
    docs = sibling.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta token{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    index = docs.filter("doc_id % 4 != 0")
    batch = docs.filter("doc_id % 4 = 0")
    frames = [
        D.minhash_candidate_pairs(docs, "doc_id", "text", jaccard_threshold=0.5),
        D.simhash_dedup(docs, "doc_id", "text"),
        D.repeated_span_dedup(docs, span_tokens=3),
        D.fuzzy_union_signatures(batch, index),
        D.match_against_index(
            batch, D.signature_frame(index, "doc_id", "text"), "doc_id", "text",
            jaccard_threshold=0.5,
        ),
    ]
    assert all(f.count() > 0 for f in frames)
    del sibling, docs, index, batch, frames
    for _ in range(3):
        gc.collect()
        spark._jvm.java.lang.System.gc()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


_RELIABLE = """
import json, os, sys
from pyspark_unload_to_gcs_spark.session import barrier, get_spark

tmp = sys.argv[1]
spark = get_spark(master="local[1]", shuffle_partitions=2,
                  extra_conf={"spark.checkpoint.dir": tmp})
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(40).selectExpr("id", "id % 7 AS k").groupBy("k").count()
out = {"dir": spark.sparkContext.getCheckpointDir(), "want": sorted(map(list, df.collect()))}
for eager in (True, False):
    frame = barrier(df, eager=eager)
    # counted before any action: the reliable branch is always eager
    out[f"files_{eager}"] = sum(len(fs) for _, _, fs in os.walk(tmp))
    out[f"got_{eager}"] = sorted(map(list, frame.collect()))
print(json.dumps(out))
spark.stop()
"""


def test_barrier_checkpoints_reliably_under_a_checkpoint_dir(tmp_path):
    """With ``spark.checkpoint.dir`` set, ``barrier`` writes its blocks
    there (eagerly, whatever ``eager`` says) and returns the same rows.
    Runs in its own process so the shared test session keeps no
    checkpoint directory."""
    ckpt = tmp_path / "ckpt"
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", "PYTHONPATH": str(REPO)}
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE, str(ckpt)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["dir"].startswith(f"file:{ckpt}") or out["dir"].startswith(str(ckpt))
    assert 0 < out["files_True"] < out["files_False"]
    assert out["got_True"] == out["got_False"] == out["want"]
