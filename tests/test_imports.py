"""No module-level import in the package goes unused (a static guard in the
style of ``test_materialize.py``). A re-export counts as a use: a name
listed in ``__all__``, or one an ``__init__.py`` imports from inside the
package."""

from __future__ import annotations

import ast

from tests.static_scan import PACKAGE, REPO


def _module_level(body: list[ast.stmt]):
    """The statements of ``body``, looking inside top-level ``if``/``try``
    blocks but not into functions or classes."""
    for node in body:
        if isinstance(node, ast.If):
            yield from _module_level(node.body + node.orelse)
        elif isinstance(node, ast.Try):
            handlers = [s for h in node.handlers for s in h.body]
            yield from _module_level(
                node.body + handlers + node.orelse + node.finalbody
            )
        else:
            yield node


def unused_imports(source: str, is_init: bool = False) -> list[tuple[str, int]]:
    """(name, line) of each module-level import in ``source`` that nothing
    in it reads."""
    tree = ast.parse(source)
    read = {
        n.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
    }
    exported = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AugAssign):
            targets = [node.target]
        else:
            continue
        if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
            exported |= {
                n.value for n in ast.walk(node.value) if isinstance(n, ast.Constant)
            }
    hits = []
    for node in _module_level(tree.body):
        if isinstance(node, ast.ImportFrom):
            if node.module == "__future__":
                continue
            if is_init and (
                node.level or (node.module or "").startswith(PACKAGE.name)
            ):
                continue
        elif not isinstance(node, ast.Import):
            continue
        for alias in node.names:
            name = (alias.asname or alias.name).split(".")[0]
            if name not in read and name not in exported:
                hits.append((name, node.lineno))
    return hits


def test_guard_catches_planted_unused_imports():
    src = (
        "from __future__ import annotations\n"
        "import os, sys\n"
        "import os.path as osp\n"
        "from pyspark.sql import DataFrame, Window\n"
        "from datafusion_impl_spark.operators import materialize\n"
        "from .graph import pagerank\n"
        "if True:\n"
        "    import json\n"
        "__all__ = ['DataFrame']\n"
        "def f():\n"
        "    import re\n"
        "    return sys.argv\n"
    )
    planted = [
        ("os", 2), ("osp", 3), ("Window", 4), ("materialize", 5),
        ("pagerank", 6), ("json", 8),
    ]
    assert unused_imports(src) == planted
    # in an __init__, the two package imports are re-exports
    assert unused_imports(src, is_init=True) == [
        ("os", 2), ("osp", 3), ("Window", 4), ("json", 8),
    ]


def test_package_has_no_unused_module_level_import():
    hits = {
        str(f.relative_to(REPO)): found
        for f in sorted(PACKAGE.rglob("*.py"))
        if (found := unused_imports(f.read_text(), f.name == "__init__.py"))
    }
    assert hits == {}
