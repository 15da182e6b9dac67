"""The engine reads nothing outside its checkout and the driver testdata:
no string constant in the package (docstrings aside) names a path under
``/root/`` other than ``/root/testdata``."""

from __future__ import annotations

import ast
import pathlib
import re

_REPO = pathlib.Path(__file__).resolve().parent.parent
_ROOT_PATH = re.compile(r"/root/[^\s'\"]*")


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def outside_paths(source: str) -> list[tuple[int, str]]:
    """(line, path) for each ``/root/...`` path outside ``/root/testdata``
    named by a non-docstring string constant of ``source``."""
    tree = ast.parse(source)
    docs = _docstrings(tree)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in docs:
            for m in _ROOT_PATH.finditer(node.value):
                if not re.match(r"/root/testdata(/|$)", m.group()):
                    found.append((node.lineno, m.group()))
    return found


def test_audit_catches_a_planted_path():
    src = '"""Doc names /root/reference/x."""\nA = "/root/testdata/sf0.01"\nB = f"/root/reference/{A}"\n'
    assert outside_paths(src) == [(3, "/root/reference/")]


def test_no_string_constant_names_a_path_outside_testdata():
    files = sorted((_REPO / "datafusion_impl_spark").rglob("*.py")) + [_REPO / "__spark_entry__.py"]
    bad = {
        str(f.relative_to(_REPO)): hits
        for f in files
        if (hits := outside_paths(f.read_text()))
    }
    assert bad == {}
