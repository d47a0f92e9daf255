"""Every option in the package has a caller: a source scan, no Spark.

A defaulted parameter that no call sets (by keyword or by position)
only doubles the configurations the code claims to support, and a
top-level function nothing references is dead code. Callers are every
call in the package, ``scripts/``, ``tests/``, ``perfbench/`` and
``bench.py``, matched by the called name (``f(...)``, ``x.f(...)``;
``C(...)`` for ``C.__init__``). A parameter that stays without a caller
needs an ``ALLOWED_UNSET`` entry naming why it is kept:

- (a) a deployment setting: a path or a streaming watermark;
- (b) a non-default value turns on a capability COVERAGE.md lists;
- (c) a parameter an open ROADMAP direction rewrites.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "databeats_spark"
CALLER_FILES = [
    p for d in ("databeats_spark", "scripts", "tests", "perfbench") for p in sorted((ROOT / d).rglob("*.py"))
] + [ROOT / "bench.py"]

# (file under databeats_spark/, function qualname, parameter) -> reason
ALLOWED_UNSET = {
    ("streaming/ann_ingest.py", "compact_ann_corpus", "checkpoint_path"):
        "(a) deployment path: the stream's checkpoint when it does not sit next to the corpus",
    ("streaming/chart.py", "compact_chart_state", "checkpoint_path"):
        "(a) deployment path: the stream's checkpoint when it does not sit next to the state",
    ("streaming/monitor.py", "compact_sprt_state", "checkpoint_path"):
        "(a) deployment path: the stream's checkpoint when it does not sit next to the state",
    ("streaming/events.py", "streaming_sessionization", "watermark"):
        "(a) deployment setting: how late an event may arrive",
    ("streaming/events.py", "streaming_dedup", "watermark"):
        "(a) deployment setting: how late an event may arrive",
    ("streaming/events.py", "stream_stream_click_attribution", "watermark"):
        "(a) deployment setting: how late an event may arrive",
    ("ml/regression.py", "train_popularity_model", "search"):
        "(b) COVERAGE M2/M4: random and TPE-adaptive search, the reference's BayesSearchCV",
    ("ml/regression.py", "train_popularity_model", "n_iter"):
        "(b) COVERAGE M2/M4: the fit budget of the random and adaptive searches",
    ("views.py", "create_dashboard_views", "names"):
        "(c) ROADMAP direction 3 rewrites create_dashboard_views",
}


def _defs() -> list[tuple[str, str, str, ast.FunctionDef, bool, bool]]:
    """(file, qualname, called name, node, is_method, top_level) for every
    function in the package, nested and methods included."""
    out = []

    def walk(node, rel, prefix, cls, top):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                called = cls if cls and ch.name == "__init__" else ch.name
                out.append((rel, prefix + ch.name, called, ch, cls is not None, top))
                walk(ch, rel, prefix + ch.name + ".", None, False)
            elif isinstance(ch, ast.ClassDef):
                walk(ch, rel, prefix + ch.name + ".", ch.name, False)
            else:
                walk(ch, rel, prefix, cls, top)

    for p in sorted(PKG.rglob("*.py")):
        walk(ast.parse(p.read_text()), p.relative_to(PKG).as_posix(), "", None, True)
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) of each
    parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, i) for i, arg in enumerate(pos) if i >= first]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _calls():
    """called name -> (keywords passed, most positionals passed); and
    every referenced name. A call that forwards ``**kw`` where ``kw`` is
    the enclosing function's own ``**`` parameter passes whatever
    keywords the calls of that enclosing function pass; any other
    unpacking (``*args``, a local dict) sets nothing."""
    keywords, positionals, refs = defaultdict(set), defaultdict(int), set()
    forwards = defaultdict(set)  # callee -> enclosing functions forwarding **kw into it

    def walk(node, kwargs):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            kwargs = {**kwargs, node.args.kwarg.arg: node.name} if node.args.kwarg else kwargs
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is not None:
                plain = [a for a in node.args if not isinstance(a, ast.Starred)]
                positionals[name] = max(positionals[name], len(plain))
                keywords[name] |= {k.arg for k in node.keywords if k.arg}
                for k in node.keywords:
                    if k.arg is None and isinstance(k.value, ast.Name) and k.value.id in kwargs:
                        forwards[name].add(kwargs[k.value.id])
        for ch in ast.iter_child_nodes(node):
            walk(ch, kwargs)

    for p in CALLER_FILES:
        walk(ast.parse(p.read_text()), {})
    changed = True
    while changed:
        changed = False
        for callee, outers in forwards.items():
            got = set().union(*(keywords[o] for o in outers))
            if not got <= keywords[callee]:
                keywords[callee] |= got
                changed = True
    return keywords, positionals, refs


DEFS = _defs()
KEYWORDS, POSITIONALS, REFS = _calls()


def _unset() -> set[tuple[str, str, str]]:
    out = set()
    for rel, qual, called, fn, is_method, _ in DEFS:
        # a bound call passes self/cls implicitly
        shift = 1 if is_method and fn.args.args and fn.args.args[0].arg in ("self", "cls") else 0
        for arg, i in _defaulted(fn):
            set_by_position = i is not None and POSITIONALS[called] + shift > i
            if not (arg in KEYWORDS[called] or set_by_position):
                out.add((rel, qual, arg))
    return out


def test_every_defaulted_parameter_has_a_caller():
    unset = sorted(_unset() - set(ALLOWED_UNSET))
    assert not unset, (
        "defaulted parameters no caller sets — make each a constant at its point "
        "of use, or allowlist it with a reason:\n"
        + "\n".join(f"  {rel}::{qual}({arg}=)" for rel, qual, arg in unset)
    )


def test_allowlist_stays_minimal():
    """An entry whose parameter is gone or now set by a caller goes."""
    stale = sorted(set(ALLOWED_UNSET) - _unset())
    assert not stale, f"ALLOWED_UNSET entries no longer needed: {stale}"


def test_every_top_level_function_has_a_caller():
    dead = sorted(
        f"{rel}::{qual}" for rel, qual, called, _, _, top in DEFS if top and called not in REFS
    )
    assert not dead, "top-level functions nothing references:\n  " + "\n  ".join(dead)
