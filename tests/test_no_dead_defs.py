"""Every top-level ``def`` and ``class`` of the package is referenced.

A name counts as referenced when some ``.py`` file of the repo mentions
it as a whole word outside the lines of its own definition (decorators
included). ``plans/`` and ``perfbench/.work/`` hold generated files and
are not searched, nor are hidden directories (``.git``, a ``.venv``).
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "ocr_dataset_builder_spark")
EXCLUDED = {os.path.join(ROOT, "plans"), os.path.join(ROOT, "perfbench", ".work")}
WORD = re.compile(r"\w+")


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [
            d for d in dirnames
            if os.path.join(dirpath, d) not in EXCLUDED and not d.startswith(".")
        ]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def test_no_unreferenced_top_level_defs():
    words: Counter[str] = Counter()
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as f:
            words.update(WORD.findall(f.read()))

    dead = []
    for path in _py_files(PACKAGE):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        lines = src.splitlines()
        for node in ast.parse(src, path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = WORD.findall("\n".join(lines[first - 1 : node.end_lineno]))
            if words[node.name] - own.count(node.name) <= 0:
                dead.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
