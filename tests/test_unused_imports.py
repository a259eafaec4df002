"""Every module-level import under ``alertas_spark/`` is used.

An unused import is dead weight at best and a stale dependency at worst: a
module keeps importing a helper its code stopped calling, and the import
graph no longer says what depends on what.  ``__init__`` modules are
skipped — re-exporting is their job.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "alertas_spark")


def _unused_imports(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    bound: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    bound[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{name} (line {line})" for name, line in sorted(bound.items())
            if name not in used]


def test_no_unused_module_level_imports():
    found = {}
    for root, _, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py") and fn != "__init__.py":
                path = os.path.join(root, fn)
                unused = _unused_imports(path)
                if unused:
                    found[os.path.relpath(path, PKG)] = unused
    assert not found, found
