"""The stress and maintenance scripts under tools/ import simkit_spark
functions (often inside ``main()``) and run only by hand, at scales far
past the test suite. A renamed or removed keyword would surface only
when someone next runs a multi-million-row stress; this test binds
every call those scripts make into simkit_spark against the callee's
current signature, without running anything."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _imported(tree: ast.AST) -> dict:
    """Local name -> object for every ``from simkit_spark... import
    name [as alias]`` anywhere in the module, function bodies included."""
    out = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == "simkit_spark"
        ):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                out[alias.asname or alias.name] = getattr(mod, alias.name)
    return out


def _callee(func: ast.expr, names: dict):
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if (
        isinstance(func, ast.Attribute)
        and isinstance(func.value, ast.Name)
        and inspect.ismodule(names.get(func.value.id))
    ):
        return getattr(names[func.value.id], func.attr, None)
    return None


def _bad_calls(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    names = _imported(tree)
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _callee(node.func, names)
        if fn is None or not callable(fn) or inspect.isclass(fn):
            continue
        sig = inspect.signature(fn)
        starred = any(isinstance(a, ast.Starred) for a in node.args)
        args = [] if starred else [None] * len(node.args)
        kwargs = {k.arg: None for k in node.keywords if k.arg is not None}
        try:
            sig.bind_partial(*args, **kwargs)
        except TypeError as exc:
            bad.append(f"{path.name}:{node.lineno} {fn.__name__}: {exc}")
    return bad


@pytest.mark.parametrize(
    "path", sorted(TOOLS.glob("*.py")), ids=lambda p: p.name
)
def test_tool_calls_match_signatures(path):
    assert _bad_calls(path) == []
