"""Every public top-level function in ``wbx/*.py`` has a caller.

A function counts as called when its name appears as a name, an
attribute, an imported name or a whole string literal (a lookup by name)
anywhere in ``wbx/``, ``__spark_entry__.py``, ``bench.py``, ``tools/`` or
``tests/``; its own ``def`` is not a reference. A function nothing reaches
is dead code, and goes."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    return (
        glob.glob(os.path.join(ROOT, "wbx", "*.py"))
        + [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
        + glob.glob(os.path.join(ROOT, "tools", "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(ROOT, "tests", "**", "*.py"), recursive=True)
    )


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _sources():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                names.add(node.value)
    return names


def test_every_public_wbx_function_has_a_caller():
    used = _referenced_names()
    uncalled = []
    for path in sorted(glob.glob(os.path.join(ROOT, "wbx", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
                and node.name not in used
            ):
                uncalled.append(f"{os.path.basename(path)}::{node.name}")
    assert not uncalled, uncalled
