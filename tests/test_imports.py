"""No module-level import in the package goes unused, and no function
imports again a name its module already imports (static guards in the
style of ``test_materialize.py``). A re-export counts as a use: a name
listed in ``__all__``, or one an ``__init__.py`` imports from inside the
package."""

from __future__ import annotations

import ast

from tests.static_scan import PACKAGE, REPO, package_hits


def _module_level(body: list[ast.stmt], runtime: bool = False):
    """The statements of ``body``, looking inside top-level ``if``/``try``
    blocks but not into functions or classes. ``runtime`` skips the body of
    ``if TYPE_CHECKING:``, which never runs."""
    for node in body:
        if isinstance(node, ast.If):
            if runtime and ast.unparse(node.test) == "TYPE_CHECKING":
                yield from _module_level(node.orelse, runtime)
            else:
                yield from _module_level(node.body + node.orelse, runtime)
        elif isinstance(node, ast.Try):
            handlers = [s for h in node.handlers for s in h.body]
            yield from _module_level(
                node.body + handlers + node.orelse + node.finalbody, runtime
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


def _bindings(node: ast.Import | ast.ImportFrom):
    """(bound name, what it binds) of each alias of an import statement."""
    for alias in node.names:
        if isinstance(node, ast.ImportFrom):
            source = ("." * node.level + (node.module or ""), alias.name)
            yield alias.asname or alias.name, source
        elif alias.asname:
            yield alias.asname, (alias.name, None)
        else:
            # ``import a.b`` binds ``a`` but also loads ``a.b``: it repeats
            # only an ``import a.b``
            yield alias.name.split(".")[0], (alias.name, None)


def redundant_imports(source: str) -> list[tuple[str, int]]:
    """(name, line) of each import inside a function that binds a name to
    what a module-level import of ``source`` already binds it to."""
    tree = ast.parse(source)
    module = {
        name: what
        for node in _module_level(tree.body, runtime=True)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for name, what in _bindings(node)
    }
    hits = {
        (name, node.lineno)
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for node in ast.walk(fn)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for name, what in _bindings(node)
        if module.get(name) == what
    }
    return sorted(hits, key=lambda h: (h[1], h[0]))


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


def test_guard_catches_planted_redundant_imports():
    src = (
        "import os\n"
        "import pyarrow.parquet as papq\n"
        "from typing import TYPE_CHECKING\n"
        "from datafusion_impl_spark.operators import md5_long\n"
        "if TYPE_CHECKING:\n"
        "    import pyarrow as pa\n"
        "def f():\n"
        "    import os\n"
        "    import os.path\n"
        "    import pyarrow as pa\n"
        "    import pyarrow.parquet as papq\n"
        "    from datafusion_impl_spark.operators import duck_md5_long, md5_long\n"
        "    def g():\n"
        "        from datafusion_impl_spark.operators import md5_long as h\n"
        "        from pyarrow import parquet as papq\n"
        "        import json\n"
        "    return os, papq\n"
    )
    # a function may import what only type checkers see, load a
    # submodule, bind a name under another alias, or bind one to another
    # object
    assert redundant_imports(src) == [
        ("os", 8), ("papq", 11), ("md5_long", 12),
    ]


def test_package_has_no_redundant_function_local_import():
    assert package_hits(redundant_imports) == {}
