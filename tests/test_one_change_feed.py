"""The table sources share one change-feed kernel in ``operators/cdc.py``:
per-commit diffs run only in ``commit_changes`` (plus the two registry
rows that demonstrate ``snapshot_diff`` itself), and the TIMESTAMP AS OF
rule — the newest commit with ``commit_ms <= ts`` — is written only in
``commit_as_of``. A second copy under ``sources/`` or ``streaming/`` is
how the Delta-log feed once drifted from its versioned-parquet twin."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_unload_to_gcs_spark"
DIFF_CALLERS = {
    ("operators/cdc.py", "commit_changes"),
    ("registry.py", "cdc_snapshot_diff"),
    ("registry.py", "cdc_apply_changes"),
}
RESOLVER = ("operators/cdc.py", "commit_as_of")


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


def _diff_calls(rel, tree):
    for node, fn in _with_function(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "snapshot_diff":
                yield rel, fn


def _mentions_commit_ms(node):
    return any(
        (isinstance(n, ast.Name) and "commit_ms" in n.id)
        or (isinstance(n, ast.Attribute) and "commit_ms" in n.attr)
        or (isinstance(n, ast.Constant) and n.value == "commit_ms")
        for n in ast.walk(node)
    )


def _as_of_resolutions(rel, tree):
    """One-sided ``commit_ms <= ts`` (or ``ts >= commit_ms``) bounds. A
    chained ``start <= commit_ms <= end`` is window membership, not a
    resolution."""
    for node, fn in _with_function(tree):
        if isinstance(node, ast.Compare) and len(node.ops) == 1:
            lhs, (op,), (rhs,) = node.left, node.ops, node.comparators
            if (isinstance(op, ast.LtE) and _mentions_commit_ms(lhs)) or (
                isinstance(op, ast.GtE) and _mentions_commit_ms(rhs)
            ):
                yield rel, fn


def test_snapshot_diff_runs_only_in_commit_changes():
    found = {where for rel, tree in _modules() for where in _diff_calls(rel, tree)}
    assert found == DIFF_CALLERS, found


def test_timestamp_as_of_is_resolved_only_in_commit_as_of():
    found = {
        where for rel, tree in _modules() for where in _as_of_resolutions(rel, tree)
    }
    assert found == {RESOLVER}, found


def test_guard_sees_each_violation():
    tree = ast.parse(
        "def f(h, ts, old, new):\n"
        "    cdc.snapshot_diff(old, new, ['k'])\n"
        "    [e for e in h if e['commit_ms'] <= ts]\n"
        "    [e for e in h if ts >= e.commit_ms]\n"
        "    [e for e in h if lo <= e['commit_ms'] <= ts]\n"
    )
    assert list(_diff_calls("m.py", tree)) == [("m.py", "f")]
    assert list(_as_of_resolutions("m.py", tree)) == [("m.py", "f"), ("m.py", "f")]
