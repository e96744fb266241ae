"""Every script and test imports the checkout it runs from.

A literal path handed to ``sys.path.insert`` pins imports to one
checkout: a second copy (an A/B baseline, a mutation copy) would then
silently run the first copy's package.  Roots must be derived from
``__file__`` (or passed in, for child scripts)."""

from __future__ import annotations

import ast
import os

from .conftest import REPO_ROOT

#: the benchmark's own tree is maintained separately
_SKIP_DIRS = {"perfbench", "__pycache__", "spark-warehouse"}


def _py_files():
    for dirpath, dirnames, files in os.walk(REPO_ROOT):
        dirnames[:] = [
            d for d in dirnames if d not in _SKIP_DIRS and not d.startswith(".")
        ]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _is_sys_path_insert(node: ast.AST) -> bool:
    f = getattr(node, "func", None)
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "insert"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "path"
        and isinstance(f.value.value, ast.Name)
        and f.value.value.id == "sys"
    )


def test_no_literal_sys_path_insert():
    offenders = []
    n_files = 0
    for path in _py_files():
        n_files += 1
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if _is_sys_path_insert(node) and any(
                isinstance(a, ast.Constant) and isinstance(a.value, str)
                for a in node.args
            ):
                offenders.append(f"{os.path.relpath(path, REPO_ROOT)}:{node.lineno}")
    assert n_files > 100, "walked the wrong tree"
    assert not offenders, offenders
