"""Every top-level ``def`` and ``class`` of the package is referenced.

A name counts as referenced when some ``.py`` file of the repo uses it
in code outside its own definition (decorators included): as a ``Name``,
as an ``Attribute`` or in an import. A mention in a docstring, a comment
or a plain string does not count; an f-string's expressions do.
``plans/`` and ``perfbench/.work/`` hold generated files and are not
searched, nor are hidden directories (``.git``, a ``.venv``).
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "ocr_dataset_builder_spark")
EXCLUDED = {os.path.join(ROOT, "plans"), os.path.join(ROOT, "perfbench", ".work")}


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [
            d for d in dirnames
            if os.path.join(dirpath, d) not in EXCLUDED and not d.startswith(".")
        ]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _references(tree: ast.AST) -> Counter[str]:
    """Names ``tree`` uses in code: loaded or stored names, attribute
    names, and the names an import binds or reads."""
    refs: Counter[str] = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
    return refs


def test_no_unreferenced_top_level_defs():
    refs: Counter[str] = Counter()
    for path in _py_files(ROOT):
        refs.update(_references(_parse(path)))

    dead = []
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if refs[node.name] - _references(node)[node.name] <= 0:
                dead.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
