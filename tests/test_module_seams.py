"""Module seams, checked on the source with ``ast`` (no Spark):

- the files-mode read path (``partread``) and its predicate kernels
  (``predicates``) never import ``readops``, so Python workers do not
  load the operator layer and no circular lazy import grows back;
- no read op takes a ``"files"`` default, so no second read route
  (a mode switch) comes back beside the files-mode one.
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
