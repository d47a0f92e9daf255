"""The epoch-state protocol lives in one place: a source scan of the
package. Session-wide confs are set only by session.py; dynamic
partition overwrite, the not-yet-created state read and the
foreachBatch drain exist only in streaming/compaction.py; and the
availableNow trigger is started only by compaction.drain (foreachBatch
sinks) and events.run_available_now (memory sinks)."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "databeats_spark"
SOURCES = {p.relative_to(PKG).as_posix(): p.read_text() for p in sorted(PKG.rglob("*.py"))}


@pytest.mark.parametrize(
    "needle, home",
    [
        (".conf.set(", {"session.py"}),
        ("partitionOverwriteMode", {"streaming/compaction.py"}),
        ("PATH_NOT_FOUND", {"streaming/compaction.py"}),
        ("foreachBatch(", {"streaming/compaction.py"}),
    ],
)
def test_needle_appears_only_in_its_home(needle, home):
    found = {rel for rel, src in SOURCES.items() if needle in src}
    assert found <= home, f"{needle!r} outside {sorted(home)}: {sorted(found - home)}"


class _TriggerCalls(ast.NodeVisitor):
    """Names of the functions that call ``.trigger(availableNow=...)``."""

    def __init__(self) -> None:
        self.scope = ["<module>"]
        self.callers: list[str] = []

    def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node: ast.Call) -> None:
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr == "trigger" and any(
            k.arg == "availableNow" for k in node.keywords
        ):
            self.callers.append(self.scope[-1])
        self.generic_visit(node)


def test_available_now_trigger_has_two_homes():
    found = []
    for rel, src in SOURCES.items():
        v = _TriggerCalls()
        v.visit(ast.parse(src))
        found += [(rel, name) for name in v.callers]
    assert sorted(found) == [
        ("streaming/compaction.py", "drain"),
        ("streaming/events.py", "run_available_now"),
    ]
