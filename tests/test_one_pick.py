"""Every "which rows of a key survive" pick goes through
``operators/pick.py``. Outside that module the package may not hold:

- a filtered ``row_number()`` window: a ``row_number()`` column, bound
  by ``withColumn``, ``alias`` or a variable, that a ``filter``/``where``
  of the same definition reads (``top_per_key``); a window that only
  numbers rows, or feeds a keep flag, is not a pick;
- an orderable-type predicate: ``if isinstance(..., MapType): return
  <bool>`` (``orderable``);
- under ``operators/``, an import from ``streaming/``.

A copy drifts: one pick gains a tie-break, a NULL order or a hashed map
column that the others lack. The guard reads the source with ``ast``
only and starts no Spark."""

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_unload_to_gcs_spark"
KERNEL = "operators/pick.py"
KINDS = ("filtered row_number", "orderable predicate", "streaming import")


def _is_call(node, name):
    return isinstance(node, ast.Call) and (
        (isinstance(node.func, ast.Attribute) and node.func.attr == name)
        or (isinstance(node.func, ast.Name) and node.func.id == name)
    )


def _numbers_rows(node):
    return any(_is_call(sub, "row_number") for sub in ast.walk(node))


def _rank_bindings(definition):
    """Column names (``withColumn`` / ``alias`` targets) and variable names
    that hold a row number."""
    names, variables = set(), set()
    for node in ast.walk(definition):
        if (
            isinstance(node, ast.Assign)
            and (_is_call(node.value, "over") or isinstance(node.value, ast.BinOp))
            and _numbers_rows(node.value)
        ):
            variables |= {t.id for t in node.targets if isinstance(t, ast.Name)}
            continue
        if _is_call(node, "withColumn") and len(node.args) == 2 and _numbers_rows(node.args[1]):
            target = node.args[0]
        elif _is_call(node, "alias") and node.args and _numbers_rows(node.func):
            target = node.args[0]
        else:
            continue
        if isinstance(target, ast.Name):
            variables.add(target.id)
        elif isinstance(target, ast.Constant) and isinstance(target.value, str):
            names.add(target.value)
    return names, variables


def _reads(predicate, names, variables):
    for sub in ast.walk(predicate):
        if isinstance(sub, ast.Name) and sub.id in variables:
            return True
        if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            if any(re.search(rf"(?<!\w){re.escape(n)}(?!\w)", sub.value) for n in names):
                return True
    return False


def _picks(definition):
    """One entry per filter that reads a row-number column."""
    names, variables = _rank_bindings(definition)
    if not (names or variables):
        return 0
    return sum(
        1
        for node in ast.walk(definition)
        if (_is_call(node, "filter") or _is_call(node, "where"))
        and node.args
        and _reads(node.args[0], names, variables)
    )


def _orderable_predicates(definition):
    def is_map_check(test):
        return _is_call(test, "isinstance") and len(test.args) == 2 and (
            (isinstance(test.args[1], ast.Attribute) and test.args[1].attr == "MapType")
            or (isinstance(test.args[1], ast.Name) and test.args[1].id == "MapType")
        )

    return sum(
        1
        for node in ast.walk(definition)
        if isinstance(node, ast.If)
        and is_map_check(node.test)
        and isinstance(node.body[0], ast.Return)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, bool)
    )


def _streaming_imports(tree):
    def streaming(module, level=0):
        return module.startswith("pyspark_unload_to_gcs_spark.streaming") or (
            level > 0 and module.startswith("streaming")
        )

    return sum(
        1
        for node in ast.walk(tree)
        if (isinstance(node, ast.ImportFrom) and streaming(node.module or "", node.level))
        or (isinstance(node, ast.Import) and any(streaming(a.name) for a in node.names))
    )


def _sites(sources):
    """``{kind: sorted ["module:definition", ...]}`` over ``{module: text}``,
    one entry per occurrence."""
    sites = {kind: [] for kind in KINDS}
    for rel, source in sorted(sources.items()):
        tree = ast.parse(source, rel)
        for top in tree.body:
            name = getattr(top, "name", f"line {top.lineno}")
            sites["filtered row_number"] += [f"{rel}:{name}"] * _picks(top)
            sites["orderable predicate"] += [f"{rel}:{name}"] * _orderable_predicates(top)
        if rel.startswith("operators/"):
            sites["streaming import"] += [rel] * _streaming_imports(tree)
    return {kind: sorted(found) for kind, found in sites.items()}


def _package_sources():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths, f"no modules under {PACKAGE}"
    return {p.relative_to(PACKAGE).as_posix(): p.read_text() for p in paths}


def test_package_picks_rows_through_one_kernel():
    sources = _package_sources()
    kernel = sources.pop(KERNEL, "")
    copies = {kind: found for kind, found in _sites(sources).items() if found}
    assert not copies, (
        f"per-key pick rules written outside {KERNEL}; call top_per_key / "
        "orderable / content_order instead, and keep operators/ free of "
        "streaming/ imports:\n"
        + "\n".join(f"  {kind}: {', '.join(found)}" for kind, found in copies.items())
    )
    # the guard sees the kernel's own copy of each rule, so it is not vacuous
    assert _sites({KERNEL: kernel}) == {
        "filtered row_number": [f"{KERNEL}:top_per_key"],
        "orderable predicate": [f"{KERNEL}:orderable"],
        "streaming import": [],
    }


_SYNTHETIC = '''
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_unload_to_gcs_spark.streaming.dedup import _collapse_batch


def latest(df, w):
    return df.withColumn("row_num", F.row_number().over(w)).filter(F.col("row_num") == 1)


def two_arms(a, b, w, n):
    ra = a.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= n)
    rb = b.select("*", F.row_number().over(w).alias("rk")).where("rk <= 3")
    return ra, rb


def prefix(ga, w, miss):
    return ga.withColumn("__rn", F.row_number().over(w)).filter(
        F.expr(f"__rn <= (__n * {miss}) div 100 + 1")
    )


def by_variable(df, w):
    rn = F.row_number().over(w)
    return df.withColumn("r", rn).filter(rn <= 2)


def is_sortable(dt):
    if isinstance(dt, T.MapType):
        return False
    return True


def near_misses(df, w, p, max_occurrences):
    # numbering only; a keep flag instead of a filter; a filter on an
    # unrelated column; a CSV check for nested types
    seq = df.select("k", F.row_number().over(w).alias("seq"))
    rn = F.row_number().over(Window.partitionBy("id").orderBy("pos"))
    flagged = df.withColumn("__keep", rn <= F.lit(max_occurrences))
    ranked = df.withColumn("domain_rank", F.row_number().over(w)).filter(F.col("kept"))
    nested = [f for f in df.schema.fields if isinstance(f.dataType, (T.ArrayType, T.MapType))]
    return seq, flagged, ranked, nested
'''


def test_guard_names_each_copy():
    assert _sites({"operators/syn.py": _SYNTHETIC}) == {
        "filtered row_number": [
            "operators/syn.py:by_variable",
            "operators/syn.py:latest",
            "operators/syn.py:prefix",
            "operators/syn.py:two_arms",
            "operators/syn.py:two_arms",
        ],
        "orderable predicate": ["operators/syn.py:is_sortable"],
        "streaming import": ["operators/syn.py"],
    }
    # outside operators/ a streaming import is allowed
    assert _sites({"registry_x.py": _SYNTHETIC})["streaming import"] == []
