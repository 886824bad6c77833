"""Per-session state goes through one primitive, ``session.session_memo``:
no package module may bind a module-level ``_*_MEMO`` dict (such a dict
outlives the sessions it is keyed on), and the retired hand-keyed
session-token helper must not come back."""

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_unload_to_gcs_spark"
MEMO_NAME = re.compile(r"^_\w*MEMO$")
# the retired helper's name, spelled in pieces so that a plain-text
# search of the tree for it finds nothing
RETIRED = "_".join(("session", "token"))


def _modules():
    paths = sorted(PACKAGE.rglob("*.py"))
    assert paths, f"no modules under {PACKAGE}"
    for path in paths:
        yield path.relative_to(PACKAGE.parent), ast.parse(path.read_text(), str(path))


def _module_level_bindings(body):
    """Names bound by module-level statements, including those nested in
    module-level if/try/with/for blocks, but not inside defs or classes."""
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield (alias.asname or alias.name).split(".")[0]
            continue
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        elif isinstance(node, (ast.For, ast.AsyncFor)):
            targets = [node.target]
        for target in targets:
            for sub in ast.walk(target):
                if isinstance(sub, ast.Name):
                    yield sub.id
        for field in ("body", "orelse", "finalbody", "handlers"):
            yield from _module_level_bindings(getattr(node, field, []))


def _identifiers(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]
            if node.asname:
                yield node.asname
        elif isinstance(node, ast.arg):
            yield node.arg


def test_no_module_level_memo_dicts():
    found = [
        f"{rel}: {name}"
        for rel, tree in _modules()
        for name in _module_level_bindings(tree.body)
        if MEMO_NAME.match(name)
    ]
    assert not found, f"module-level memo dicts (use session_memo): {found}"


def test_retired_token_helper_is_gone():
    found = [str(rel) for rel, tree in _modules() if RETIRED in set(_identifiers(tree))]
    assert not found, f"{RETIRED} is back in: {found}"


def test_guard_sees_a_memo_dict():
    tree = ast.parse("if True:\n    _X_MEMO: dict = {}\n_Y_MEMO = {}\n")
    assert [n for n in _module_level_bindings(tree.body) if MEMO_NAME.match(n)] == [
        "_X_MEMO",
        "_Y_MEMO",
    ]
    assert RETIRED in set(_identifiers(ast.parse(f"from m import {RETIRED}")))
