"""Every near-duplicate operator finds and verifies its candidate pairs
through ``operators/pair_join.py``. No other module under ``operators/``
may hold one of the three rules written there:

- a pair-predicate candidate join: ``.filter(F.col(a) < F.col(b))`` (or
  ``>``, ``!=``) applied straight to a ``.join(...)`` chain;
- a loser anti-join: a ``left_anti`` join against a frame built from
  ``F.col("id_b")``, the later id of each pair (``drop_later``);
- a build-metadata check: a read of ``<frame>.schema[...].metadata``
  (``require_build``).

A copy drifts: one side gains a de-duplication, a threshold direction
or a metadata key that the others lack. The guard reads the source with
``ast`` only and starts no Spark."""

import ast
from pathlib import Path

OPERATORS = Path(__file__).resolve().parents[1] / "pyspark_unload_to_gcs_spark" / "operators"
KERNEL = "pair_join.py"
KINDS = ("pair join", "loser anti-join", "build check")


def _is_col(node, name=None):
    """``F.col(...)`` / ``col(...)``, optionally of the literal ``name``."""
    if not isinstance(node, ast.Call):
        return False
    func = node.func
    if not (
        (isinstance(func, ast.Attribute) and func.attr == "col")
        or (isinstance(func, ast.Name) and func.id == "col")
    ):
        return False
    return name is None or any(
        isinstance(a, ast.Constant) and a.value == name for a in node.args
    )


def _chain(node):
    """Method names along a call chain such as ``a.join(b).select(c)``."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def _pair_predicate(node):
    """A comparison of two columns, or a conditional choosing one."""
    if isinstance(node, ast.IfExp):
        return _pair_predicate(node.body) or _pair_predicate(node.orelse)
    return (
        isinstance(node, ast.Compare)
        and len(node.ops) == 1
        and isinstance(node.ops[0], (ast.Lt, ast.Gt, ast.NotEq))
        and _is_col(node.left)
        and _is_col(node.comparators[0])
    )


def _method_call(node, name):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def _kinds_in(definition):
    """The rule kinds one top-level definition holds."""
    bound = {}
    for node in ast.walk(definition):
        if isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    bound.setdefault(target.id, []).append(node.value)
    found = set()
    for node in ast.walk(definition):
        if (
            _method_call(node, "filter")
            and node.args
            and _pair_predicate(node.args[0])
            and "join" in _chain(node.func.value)
        ):
            found.add("pair join")
        if _method_call(node, "join") and any(
            isinstance(a, ast.Constant) and a.value == "left_anti"
            for a in [*node.args, *(k.value for k in node.keywords)]
        ):
            other = node.args[0] if node.args else None
            built = bound.get(other.id, []) if isinstance(other, ast.Name) else [other]
            if any(
                _is_col(sub, "id_b")
                for value in built
                if value is not None
                for sub in ast.walk(value)
            ):
                found.add("loser anti-join")
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "metadata"
            and isinstance(node.value, ast.Subscript)
            and isinstance(node.value.value, ast.Attribute)
            and node.value.value.attr == "schema"
        ):
            found.add("build check")
    return found


def _sites(sources):
    """``{kind: sorted ["module:definition", ...]}`` over ``{module: text}``."""
    sites = {kind: [] for kind in KINDS}
    for rel, source in sorted(sources.items()):
        for top in ast.parse(source, rel).body:
            name = getattr(top, "name", f"line {top.lineno}")
            for kind in _kinds_in(top):
                sites[kind].append(f"{rel}:{name}")
    return {kind: sorted(found) for kind, found in sites.items()}


def _operator_sources():
    paths = sorted(OPERATORS.glob("*.py"))
    assert paths, f"no operator modules under {OPERATORS}"
    return {p.name: p.read_text() for p in paths}


def test_operators_join_pairs_through_one_kernel():
    sources = _operator_sources()
    kernel = sources.pop(KERNEL, "")
    copies = {kind: found for kind, found in _sites(sources).items() if found}
    assert not copies, (
        f"candidate-pair rules written outside operators/{KERNEL}; call "
        "blocked_pairs / drop_later / require_build instead:\n"
        + "\n".join(f"  {kind}: {', '.join(found)}" for kind, found in copies.items())
    )
    # the guard sees the kernel's own copy of each rule, so it is not vacuous
    assert _sites({KERNEL: kernel}) == {
        "pair join": [f"{KERNEL}:blocked_pairs"],
        "loser anti-join": [f"{KERNEL}:drop_later"],
        "build check": [f"{KERNEL}:require_build"],
    }


_SYNTHETIC = '''
from pyspark.sql import functions as F


def self_pairs(banded):
    return (
        banded.select("k", F.col("id").alias("id_a"))
        .join(banded.select("k", F.col("id").alias("id_b")), "k")
        .filter(F.col("id_a") < F.col("id_b"))
    )


def batch_pairs(new, index):
    cand = (
        new.join(index, "k")
        .select(F.col("id").alias("new_id"), F.col("idx").alias("index_id"))
        .filter(F.col("new_id") != F.col("index_id"))
    )
    return cand


def dedup(df, pairs, id_column):
    losers = pairs.select(F.col("id_b").alias(id_column)).distinct()
    return df.join(losers, on=id_column, how="left_anti")


def check(index):
    meta = index.schema["bucket"].metadata or {}
    return meta


def near_misses(df, cand, pq, p):
    # a filter on a named frame, not on a join chain (containment's
    # optional equal-id filter); a column filter on a chain without a
    # join (graph's edge clean-up); a column compare inside a larger
    # predicate; an anti-join against a frame without id_b in a
    # function that names id_b elsewhere; parquet footer metadata
    cand = cand.filter(F.col("id_a") != F.col("id_b"))
    edges = df.select("u", "v").filter(F.col("u") != F.col("v"))
    heavy = df.groupBy("k").count()
    kept = df.join(F.broadcast(heavy), "k", "left_anti")
    spans = df.join(heavy, "k").filter((F.col("s") < F.col("e")) & (F.col("e") > 0))
    return cand, edges, kept, spans, pq.ParquetFile(p).metadata
'''


def test_guard_names_each_copy():
    assert _sites({"syn.py": _SYNTHETIC}) == {
        "pair join": ["syn.py:batch_pairs", "syn.py:self_pairs"],
        "loser anti-join": ["syn.py:dedup"],
        "build check": ["syn.py:check"],
    }
