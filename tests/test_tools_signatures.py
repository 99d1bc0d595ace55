"""The stress and maintenance scripts under tools/ import simkit_spark
functions (often inside ``main()``) and run only by hand, at scales far
past the test suite. A renamed or removed keyword would surface only
when someone next runs a multi-million-row stress; this test binds
every call those scripts make into simkit_spark against the callee's
current signature, without running anything. The stress scripts that
were folded into tools/stress.py keep their ids: each binds the calls of
the registry entry that holds its code, and of the module helpers that
entry reaches."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"

# folded script -> the tools/stress.py entry that replaced it
FOLDED = {
    "stress_eigen.py": "eigensolve",
    "stress_graph_ops.py": "pagerank_lpa_triangles_hits",
    "stress_kg.py": "kg_operators",
    "stress_new_ops.py": "asof_linkpred_pq",
    "stress_nndescent.py": "nn_descent",
    "stress_round3b.py": "kcore_walks_lm",
    "stress_round4.py": "interval_blocking_sampling",
    "stress_round4d.py": "node2vec_harmonic_bm25",
    "stress_round4g.py": "cms_bloom_hybrid",
    "stress_round4h.py": "ktruss_mis_assortativity",
    "stress_round4i.py": "anf_scc_rules_kcenter_bpe",
    "stress_round4j.py": "components_mst_densest_temporal",
    "stress_round4k.py": "stress_centrality",
    "stress_round5.py": "hll_pca",
    "stress_rules.py": "rule_mining",
}


def _imported(tree: ast.AST) -> dict:
    """Local name -> object for every ``from simkit_spark... import
    name [as alias]`` anywhere in the module, function bodies included;
    a submodule name resolves to the submodule, imported if need be."""
    out = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == "simkit_spark"
        ):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                out[alias.asname or alias.name] = (
                    getattr(mod, alias.name)
                    if hasattr(mod, alias.name)
                    else importlib.import_module(f"{node.module}.{alias.name}")
                )
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


def _reached(tree: ast.Module, root: str) -> list[ast.FunctionDef]:
    """The module-level function ``root`` and every module-level function
    it calls by name, transitively."""
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert root in defs, f"no function {root} in the module"
    seen, todo = {}, [root]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen[name] = defs[name]
        todo += [
            n.func.id
            for n in ast.walk(defs[name])
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id in defs
        ]
    return list(seen.values())


def _bad_calls(path: Path, root: str | None = None) -> tuple[list[str], int]:
    """Calls into simkit_spark that do not bind, and how many were bound;
    with ``root``, only those inside ``_reached(tree, root)``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    names = _imported(tree)
    scopes = [tree] if root is None else _reached(tree, root)
    calls = {id(n): n for s in scopes for n in ast.walk(s) if isinstance(n, ast.Call)}
    bad, bound = [], 0
    for node in calls.values():
        fn = _callee(node.func, names)
        if fn is None or not callable(fn) or inspect.isclass(fn):
            continue
        sig = inspect.signature(fn)
        starred = any(isinstance(a, ast.Starred) for a in node.args)
        args = [] if starred else [None] * len(node.args)
        kwargs = {k.arg: None for k in node.keywords if k.arg is not None}
        bound += 1
        try:
            sig.bind_partial(*args, **kwargs)
        except TypeError as exc:
            bad.append(f"{path.name}:{node.lineno} {fn.__name__}: {exc}")
    return bad, bound


CASES = [(path, None) for path in sorted(TOOLS.glob("*.py"))] + [
    (TOOLS / "stress.py", entry) for entry in FOLDED.values()
]


@pytest.mark.parametrize(
    "path,root",
    CASES,
    ids=[path.name for path, _ in CASES[: -len(FOLDED)]] + list(FOLDED),
)
def test_tool_calls_match_signatures(path, root):
    bad, bound = _bad_calls(path, root)
    assert bad == []
    # a folded entry that binds nothing was matched to the wrong function
    assert root is None or bound > 0
