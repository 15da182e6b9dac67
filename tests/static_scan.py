"""AST scans of the package source, shared by the static guards."""

from __future__ import annotations

import ast
import pathlib
from collections.abc import Callable

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "datafusion_impl_spark"


def method_calls(source: str, methods: tuple[str, ...]) -> list[ast.Call]:
    """Each ``<x>.<method>(...)`` call in ``source`` whose method is one of
    ``methods``."""
    return [
        node
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in methods
    ]


def by_function(source: str, lines: list[int]) -> list[tuple[str, int]]:
    """(enclosing top-level function or ``<module>``, line) of each of
    ``lines`` in ``source``, in line order."""
    spans = [
        (node.lineno, node.end_lineno, node.name)
        for node in ast.parse(source).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    return [
        (next((name for lo, hi, name in spans if lo <= ln <= hi), "<module>"), ln)
        for ln in sorted(lines)
    ]


def package_hits(scan: Callable[[str], list]) -> dict[str, list]:
    """``scan(source)`` of every package module that has hits, keyed by its
    path relative to the checkout."""
    return {
        str(f.relative_to(REPO)): hits
        for f in sorted(PACKAGE.rglob("*.py"))
        if (hits := scan(f.read_text()))
    }
