"""The engine reads nothing outside its checkout and the driver testdata:
no string constant in the package (docstrings aside) names a path under
``/root/`` other than ``/root/testdata``."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import tempfile
from urllib.parse import unquote, urlparse

from tests.conftest import SF_DIR, SF_DIR_ORACLE

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


def outside_inputs(inputs, roots) -> list[tuple[str, str]]:
    """(query, path) for each ``(query, file URI)`` of ``inputs`` whose path
    lies under none of ``roots``."""
    real = [os.path.realpath(r) for r in roots]
    found = []
    for name, uri in inputs:
        path = os.path.realpath(unquote(urlparse(uri).path))
        if not any(path == r or path.startswith(r + os.sep) for r in real):
            found.append((name, path))
    return found


def allowed_roots() -> list[str]:
    """The checkout, the testdata root(s), the temp dir and Spark's local
    dirs."""
    local = os.environ.get("SPARK_LOCAL_DIRS", "")
    return [
        str(_REPO),
        os.path.dirname(SF_DIR),
        os.path.dirname(SF_DIR_ORACLE),
        tempfile.gettempdir(),
        *filter(None, local.split(",")),
    ]


def test_runtime_check_catches_a_planted_read(spark, tmp_path):
    planted = tmp_path / "planted.parquet"
    spark.range(3).coalesce(1).write.parquet(str(planted))
    inputs = [("planted", f) for f in spark.read.parquet(str(planted)).inputFiles()]
    assert inputs
    assert outside_inputs(inputs, allowed_roots()) == []
    # a narrower set of roots turns the same read into a violation
    assert [name for name, _ in outside_inputs(inputs, [str(_REPO)])] == ["planted"]
    assert outside_inputs(
        [("q", "file:///etc/passwd"), ("q", f"file://{_REPO}/x.csv")], [str(_REPO)]
    ) == [("q", "/etc/passwd")]


def test_no_registered_query_reads_outside_the_allowed_roots(registry_audit):
    """``inputFiles()`` of each query's returned plan, from the shared
    registry build. Limit: a source a query reads only BEFORE a
    ``materialize`` is invisible here — the checkpoint replaces that part
    of the plan — so only the static scan above sees those reads."""
    assert outside_inputs(registry_audit["inputs"], allowed_roots()) == []
