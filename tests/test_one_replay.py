"""Each DuckDB replay, planted test corpus and row body is written once in
the registry: no two top-level definitions in ``registry*.py`` may share
a run of ``RUN`` or more identical code lines. A line is compared after
stripping its indentation; blank lines, comment lines and docstrings are
skipped, so a copy cannot hide behind re-indentation or a reworded
comment. A replay pasted twice drifts: the copy is fixed or tuned and the
original is not, and the oracle then checks a query nobody runs. The
guard reads the source with ``ast`` only and starts no Spark."""

import ast
from collections import defaultdict
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_unload_to_gcs_spark"
RUN = 8


def _docstring_lines(tree):
    """Line numbers covered by module, class and function docstrings."""
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def _name(node):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return node.name
    targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return names[0] if names else f"line {node.lineno}"


def _definitions(rel, source):
    """(``module:name``, stripped code lines) per top-level statement."""
    tree = ast.parse(source, rel)
    skip = _docstring_lines(tree)
    text = source.splitlines()
    for node in tree.body:
        start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        code = []
        for no in range(start, node.end_lineno + 1):
            line = text[no - 1].strip()
            if line and not line.startswith("#") and no not in skip:
                code.append(line)
        yield f"{rel}:{_name(node)}", code


def _shared_runs(sources):
    """Sorted pairs of definitions sharing a run of ``RUN`` code lines,
    each with the first shared line. ``sources`` is ``{module: text}``."""
    seen = defaultdict(list)
    for rel, source in sources.items():
        for name, code in _definitions(rel, source):
            for i in range(len(code) - RUN + 1):
                seen[tuple(code[i : i + RUN])].append(name)
    pairs = {}
    for window, names in seen.items():
        names = sorted(set(names))
        for i, a in enumerate(names):
            for b in names[i + 1 :]:
                pairs.setdefault((a, b), window[0])
    return sorted((a, b, line) for (a, b), line in pairs.items())


def _registry_sources():
    paths = sorted(PACKAGE.glob("registry*.py"))
    assert paths, f"no registry modules under {PACKAGE}"
    return {p.name: p.read_text() for p in paths}


def test_registry_writes_each_replay_once():
    pairs = _shared_runs(_registry_sources())
    assert not pairs, (
        f"{len(pairs)} pairs of registry definitions share a run of >= {RUN} "
        "identical code lines; write the shared part once and call it:\n"
        + "\n".join(f"  {a} ~ {b}: {line!r}" for a, b, line in pairs)
    )


def test_guard_names_both_copies():
    lines = [f"x{i} = spark.sql('SELECT {i}')" for i in range(RUN)]
    a = 'def first(spark):\n    """One."""\n' + "".join(f"    {x}\n" for x in lines)
    # the copy is re-indented, interleaved with comments and blank lines,
    # and sits under a reworded docstring
    b = (
        '# a comment\n_SQL = 1\n\n\ndef second(spark):\n    """Two,\n    reworded."""\n'
        "    if spark:\n"
        + "".join(f"        # step {i}\n\n        {x}\n" for i, x in enumerate(lines))
    )
    assert _shared_runs({"a.py": a, "b.py": b}) == [
        ("a.py:first", "b.py:second", lines[0])
    ]
    # one line less than RUN in common is not a copy
    assert _shared_runs({"a.py": a, "b.py": b.replace(lines[-1], "y = 0")}) == []
    # a run repeated inside one definition is not a pair
    twice = a + "".join(f"    {x}\n" for x in lines)
    assert _shared_runs({"a.py": twice}) == []
    # module-level strings are definitions too, named by their target
    sql = "".join(f"  {x}\n" for x in lines)
    c = f'_ONE = """\n{sql}"""\n_TWO = f"""\n{sql}"""\n'
    assert [p[:2] for p in _shared_runs({"c.py": c})] == [("c.py:_ONE", "c.py:_TWO")]
