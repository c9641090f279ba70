"""Module seams, checked on the source with ``ast`` (no Spark):

- the files-mode read path (``partread``) and its predicate kernels
  (``predicates``) never import ``readops``, so Python workers do not
  load the operator layer and no circular lazy import grows back;
- no read op takes a ``"files"`` default, so no second read route
  (a mode switch) comes back beside the files-mode one;
- the per-key window operators leave their hot-key split and every
  cache it persists to one engine (``readops._keyed_window``), and no
  persisted handle rides a DataFrame attribute.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "arcade_spark"


def _tree(name: str) -> ast.Module:
    return ast.parse((PKG / name).read_text(), filename=name)


@pytest.mark.parametrize("name", ["partread.py", "predicates.py"])
def test_no_readops_import(name):
    bad = []
    for node in ast.walk(_tree(name)):
        if isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
            mods += [f"{node.module}.{a.name}" for a in node.names]
        elif isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        else:
            continue
        if "arcade_spark.readops" in mods:
            bad.append(node.lineno)
    assert not bad, f"{name} imports arcade_spark.readops at lines {bad}"


@pytest.mark.parametrize("name", ["readops.py", "decode.py"])
def test_no_files_mode_default(name):
    bad = []
    for node in ast.walk(_tree(name)):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        defaults = node.args.defaults + [
            d for d in node.args.kw_defaults if d is not None
        ]
        if any(isinstance(d, ast.Constant) and d.value == "files" for d in defaults):
            bad.append(node.name)
    assert not bad, f"{name}: functions with a 'files' default: {bad}"


WINDOW_OPS = ("rolling_agg", "sessionize", "window_shift", "join_asof")
CACHE_CALLS = {
    "persist", "unpersist", "_register_key_cache", "release_key_caches",
    "_split_hot_keys",
}


def _called(node: ast.AST) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            names.add(f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", ""))
    return names


def _functions(tree: ast.Module) -> dict[str, ast.FunctionDef]:
    return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}


def test_no_input_cache_attribute():
    """No persisted handle rides a DataFrame as ``_arcade_input_cache``,
    where nothing frees it when the caller raises."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Store):
                hit = n.attr == "_arcade_input_cache"
            elif isinstance(n, ast.Call) and getattr(n.func, "id", "") == "setattr":
                hit = any(isinstance(a, ast.Constant) and a.value == "_arcade_input_cache"
                          for a in n.args)
            else:
                continue
            if hit:
                bad.append(f"{path.name}:{n.lineno}")
    assert not bad, f"_arcade_input_cache set at {bad}"


def test_window_ops_leave_caches_to_the_engine():
    """The per-key window operators persist, release and split nothing
    themselves: ``_keyed_window`` is the one caller of ``_split_hot_keys``
    and owns every cache of a split, so no private copy grows back."""
    funcs = _functions(_tree("readops.py"))
    for name in WINDOW_OPS:
        bad = _called(funcs[name]) & CACHE_CALLS
        assert not bad, f"{name} calls {sorted(bad)}"
        assert "_keyed_window" in _called(funcs[name]), name
    assert not _called(funcs["_split_hot_keys"]) & {"persist", "unpersist"}
    callers = [
        f"{path.name}:{name}"
        for path in sorted(PKG.rglob("*.py"))
        for name, fn in _functions(ast.parse(path.read_text())).items()
        if "_split_hot_keys" in _called(fn)
    ]
    assert callers == ["readops.py:_keyed_window"], callers
