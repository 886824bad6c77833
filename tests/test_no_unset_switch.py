"""No switch without a caller. Every bool-defaulted keyword parameter of a
public function in the package (``registry*.py`` excluded) is passed, by
keyword or by position, at some call in the package, ``tools/``,
``bench.py``, ``perfbench/`` or ``tests/``: an on/off option that nothing
turns on guards a branch that never runs, not even in the tests. A
helper that forwards ``**kw`` to the function counts with the keywords
its own callers pass (``_run(spark, docs, normalize=False)`` reaches
``line_dedup(df, **kw)``), and so does ``functools.partial``.

The switches deleted for having no caller must not come back either,
whatever their type. The guard reads the source with ``ast`` only and
starts no Spark."""

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "pyspark_unload_to_gcs_spark"
CALLER_ROOTS = (PACKAGE, "tools", "bench.py", "perfbench", "tests")

# (function, parameter): switches no row, tool or test ever set
REMOVED = frozenset(
    {
        ("change_type_mapping", "drop_source"),
        ("dsir_select", "normalize"),
        ("split_leakage_audit", "normalize"),
        ("mix_deviation_report", "spark"),
        ("bpe_encode_counts", "method"),
        ("pq_topk", "method"),
        ("pq_index_write", "method"),
        ("ivf_drift_report", "method"),
        ("interval_overlap_join", "extra_condition"),
        ("attach_payload", "media_type"),
        ("attach_payload", "fmt"),
        ("variant_schema_profile", "top_n"),
        ("fuzzy_text_join", "bucket_cap"),
        ("load_csv", "header"),
        ("load_csv", "infer"),
        ("load_json", "infer"),
        ("load_xml", "infer"),
        ("colocated_join", "how"),
        ("write_bucketed", "format"),
        ("write_delta_commit", "operation"),
        ("compact_files", "format"),
        ("compact_files", "compression"),
        ("write_clustered", "format"),
        ("write_zordered", "format"),
        ("read_sessions", "finalize"),
        ("read_sessions", "user_id_type"),
        ("read_topk", "before"),
        ("session_window_agg", "aggs"),
    }
)


def _defaults(fn):
    """``(position or None, name, default node)`` per defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, x.arg, d) for i, (x, d) in enumerate(zip(pos[first:], a.defaults), first)]
    out += [(None, x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _public_functions(sources):
    """``(module, function node)`` for public top-level functions."""
    for rel, source in sorted(sources.items()):
        if Path(rel).name.startswith("registry"):
            continue
        for top in ast.parse(source, rel).body:
            if isinstance(top, ast.FunctionDef) and not top.name.startswith("_"):
                yield rel, top


def _callee(func):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _passed(sources):
    """``{function name: (keywords passed, max positional count)}`` over
    every call in ``sources``, with ``**kw`` forwarding folded in."""
    keywords = defaultdict(set)
    positional = defaultdict(int)
    forwards = defaultdict(set)  # callee -> helpers passing their **kw on
    for rel, source in sources.items():
        tree = ast.parse(source, rel)
        for scope in ast.walk(tree):
            if not isinstance(scope, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            kwarg = getattr(getattr(scope, "args", None), "kwarg", None)
            for call in ast.walk(scope):
                if not isinstance(call, ast.Call):
                    continue
                name, args = _callee(call.func), call.args
                if name == "partial" and args:
                    name, args = _callee(args[0]), args[1:]
                if name is None:
                    continue
                n_pos = sum(not isinstance(a, ast.Starred) for a in args)
                positional[name] = max(positional[name], n_pos)
                for k in call.keywords:
                    if k.arg is not None:
                        keywords[name].add(k.arg)
                    elif (
                        kwarg is not None
                        and isinstance(k.value, ast.Name)
                        and k.value.id == kwarg.arg
                    ):
                        forwards[name].add(scope.name)
    changed = True
    while changed:
        changed = False
        for name, helpers in forwards.items():
            for helper in helpers:
                new = keywords[helper] - keywords[name]
                if new:
                    keywords[name] |= new
                    changed = True
    return {n: (keywords[n], positional[n]) for n in set(keywords) | set(positional)}


def _unset_switches(package, callers):
    """``module:function(param)`` for every bool-defaulted parameter of a
    public function in ``package`` that no call in ``callers`` passes."""
    passed = _passed(callers)
    unset = []
    for rel, fn in _public_functions(package):
        keywords, n_pos = passed.get(fn.name, (set(), 0))
        for index, param, default in _defaults(fn):
            if not (isinstance(default, ast.Constant) and isinstance(default.value, bool)):
                continue
            if param in keywords or (index is not None and n_pos > index):
                continue
            unset.append(f"{rel}:{fn.name}({param})")
    return sorted(unset)


def _removed_back(package):
    """``module:function(param)`` for every deleted switch defined again."""
    back = []
    for rel, source in sorted(package.items()):
        for node in ast.walk(ast.parse(source, rel)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                for x in a.posonlyargs + a.args + a.kwonlyargs:
                    if (node.name, x.arg) in REMOVED:
                        back.append(f"{rel}:{node.name}({x.arg})")
    return sorted(back)


def _read(root):
    out = {}
    for entry in CALLER_ROOTS:
        path = root / entry
        for p in [path] if path.is_file() else sorted(path.rglob("*.py")):
            out[p.relative_to(root).as_posix()] = p.read_text()
    return out


def test_every_bool_switch_has_a_caller():
    callers = _read(REPO)
    pkg = PACKAGE + "/"
    package = {k[len(pkg):]: v for k, v in callers.items() if k.startswith(pkg)}
    assert len(package) > 50, f"too few modules under {PACKAGE}: {len(package)}"
    unset = _unset_switches(package, callers)
    assert not unset, (
        f"{len(unset)} bool switches that no call passes; fix the behaviour "
        "every caller uses, or add the caller that needs the other value:\n  "
        + "\n  ".join(unset)
    )
    back = _removed_back(package)
    assert not back, "switches deleted for having no caller are back:\n  " + "\n  ".join(back)


_PACKAGE = {
    "ops.py": '''
def scan(df, *, fast=False, strict=True, label="x"):
    return df


def merge(df, other, dedup=False, *, keep=True):
    return df


def forwarded(df, *, normalize=True):
    return df


def partial_target(df, *, exact=False):
    return df


def _private(df, *, hidden=False):
    return df


def colocated_join(spark, left, right, on, how="inner"):
    return left
''',
    "registry_rows.py": '''
def row(spark, sf, *, unused=False):
    return spark
''',
}

_CALLERS = {
    "use.py": '''
from functools import partial

from ops import forwarded, merge, partial_target, scan


def helper(df, **kw):
    return forwarded(df, **kw)


def outer(df, **opts):
    return helper(df, **opts)


scan(df, strict=False, label="y")
merge(df, other, True)
outer(df, normalize=False)
run = partial(partial_target, exact=True)
''',
}


def test_guard_names_each_unset_switch():
    # fast is never passed; keep is keyword-only and no call names it;
    # dedup is set by position; normalize through two
    # **kw helpers; exact through partial; private functions and
    # registry modules are out of scope; label is not a bool
    assert _unset_switches(_PACKAGE, _CALLERS) == [
        "ops.py:merge(keep)",
        "ops.py:scan(fast)",
    ]
    assert _removed_back(_PACKAGE) == ["ops.py:colocated_join(how)"]
