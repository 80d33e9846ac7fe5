"""Lint: no module of the package imports the same name twice.

The catalog modules were once assembled from per-round shards, which left
repeated import statements behind. No linter is a dependency, so this
walks every module with ``ast`` and fails on a name bound by more than
one import in the same scope (module, function or class body).
"""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

PKG = pathlib.Path(__file__).resolve().parents[1] / "markt_database_analyzer_spark"
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _imported_names(scope: ast.AST) -> list[str]:
    """Names bound by the import statements of ``scope`` itself; nested
    functions and classes are scopes of their own."""
    names, stack = [], list(scope.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names += [a.asname or a.name.split(".")[0] for a in node.names]
        elif not isinstance(node, _SCOPES):
            stack += [c for c in ast.iter_child_nodes(node)
                      if isinstance(c, (ast.stmt, ast.excepthandler))]
    return names


def duplicate_imports(path: pathlib.Path) -> dict[str, list[str]]:
    tree = ast.parse(path.read_text())
    scopes = [tree] + [n for n in ast.walk(tree) if isinstance(n, _SCOPES)]
    out = {}
    for scope in scopes:
        twice = sorted(n for n, c in Counter(_imported_names(scope)).items() if c > 1)
        if twice:
            out[getattr(scope, "name", "<module>")] = twice
    return out


def test_no_name_imported_twice_in_one_scope():
    found = {
        str(p.relative_to(PKG)): d
        for p in sorted(PKG.rglob("*.py"))
        if (d := duplicate_imports(p))
    }
    assert not found, f"names imported more than once: {found}"


def test_duplicate_import_detection(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "from a import x, y\n"
        "from b import x\n"
        "def f():\n"
        "    import os\n"
        "    if True:\n"
        "        import os\n"
        "def g():\n"
        "    import os\n"
    )
    assert duplicate_imports(mod) == {"<module>": ["x"], "f": ["os"]}
