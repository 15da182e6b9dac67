"""Eager materialization has one spelling: ``operators.materialize`` is the
package's only ``localCheckpoint`` call (static guard, in the style of
``test_scoped_conf.py``), and a loop learns its stop test or a frame's size
from the aggregates ``materialize`` observes in the checkpoint's own job,
never from a further action on the checkpoint. The near-dup graph queries
checkpoint their pair graph once."""

from __future__ import annotations

import ast
import inspect
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

import __spark_entry__ as entrymod
from datafusion_impl_spark.operators import materialize
from tests.conftest import SF_DIR_ORACLE
from tests.static_scan import method_calls, package_hits

#: actions that would read back a checkpoint in a job of their own
_ACTIONS = ("count", "first", "collect", "take")

#: (module, function) whose action on a checkpoint reads something no
#: observed aggregate can give
_EXEMPT = {
    # joins the candidate checkpoint with the verified pairs first
    ("datafusion_impl_spark/operators/dedup.py", "dedup_minhash_param_sweep"),
    # counts distinct keys, and ``observe`` rejects DISTINCT aggregates
    ("datafusion_impl_spark/plans/analytics.py", "brand_affinity_lift"),
}


def checkpoint_calls(source: str) -> list[int]:
    """Line of each ``<x>.localCheckpoint(...)`` call in ``source``."""
    return [node.lineno for node in method_calls(source, ("localCheckpoint",))]


def _is_materialize(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and (
        isinstance(node.func, ast.Name) and node.func.id == "materialize"
        or isinstance(node.func, ast.Attribute) and node.func.attr == "materialize"
    )


def _receiver(node: ast.AST) -> ast.AST:
    """The name or ``materialize(...)`` call a method chain starts from."""
    while not _is_materialize(node):
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, (ast.Attribute, ast.Subscript)):
            node = node.value
        else:
            break
    return node


def checkpoint_actions(source: str) -> list[tuple[str, int]]:
    """(top-level function, line) of each ``count``/``first``/``collect``/
    ``take`` on a checkpoint: a ``materialize(...)`` call, or a name the
    same function binds to one (``x = materialize(...)`` or
    ``x, seen = materialize(...)``)."""
    hits = []
    for fn in ast.parse(source).body:
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        bound = set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and _is_materialize(node.value):
                for target in node.targets:
                    if isinstance(target, ast.Tuple):
                        target = target.elts[0]
                    if isinstance(target, ast.Name):
                        bound.add(target.id)
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _ACTIONS
            ):
                continue
            root = _receiver(node.func.value)
            if _is_materialize(root) or isinstance(root, ast.Name) and root.id in bound:
                hits.append((fn.name, node.lineno))
    return sorted(hits, key=lambda hit: hit[1])


def test_audit_catches_a_planted_checkpoint():
    src = (
        "df.localCheckpoint()\n"
        "x = (\n    a.b.localCheckpoint(eager=False))\n"
        "localCheckpoint(df)\n"
        "materialize(df)\n"
    )
    assert checkpoint_calls(src) == [1, 3]


def test_only_materialize_checkpoints():
    lines, start = inspect.getsourcelines(materialize)
    inside = [start + i for i, line in enumerate(lines) if ".localCheckpoint(" in line]
    assert len(inside) == 1
    assert package_hits(checkpoint_calls) == {
        "datafusion_impl_spark/operators/__init__.py": inside
    }


def test_guard_catches_planted_actions_on_checkpoints():
    src = (
        "def loop(df):\n"
        "    cur = materialize(df)\n"
        "    nxt, seen = ops.materialize(df, n=F.count(F.lit(1)))\n"
        "    lazy = df.filter('x > 0')\n"
        "    cur.count()\n"
        "    cur.agg(F.max('rank')).first()[0]\n"
        "    nxt.select('a').join(lazy, 'a').take(1)\n"
        "    materialize(df).collect()\n"
        "    lazy.count()\n"
        "    lazy.join(cur, 'a').count()\n"
        "    return seen['n']\n"
        "def other(df):\n"
        "    cur.count()\n"
    )
    assert checkpoint_actions(src) == [
        ("loop", 5), ("loop", 6), ("loop", 7), ("loop", 8),
    ]


def test_loops_learn_from_observed_aggregates():
    hits = {
        (path, fn)
        for path, found in package_hits(checkpoint_actions).items()
        for fn, _ in found
    }
    assert hits - _EXEMPT == set()
    # every exemption is still in use, so the list cannot go stale
    assert hits == _EXEMPT


def test_materialize_returns_observed_aggregates(spark):
    df = spark.range(10).withColumn("odd", F.col("id") % 2)
    out, seen = materialize(
        df, n=F.count(F.lit(1)), odd=F.count_if(F.col("odd") == 1), top=F.max("id")
    )
    assert seen == {"n": 10, "odd": 5, "top": 9}
    assert out.count() == 10
    _, empty = materialize(df.filter("id < 0"), n=F.count(F.lit(1)), top=F.max("id"))
    assert empty == {"n": 0, "top": None}


@pytest.mark.parametrize(
    ("name", "checkpoints", "actions"),
    [
        pytest.param(name, checkpoints, actions, id=f"{name}-{checkpoints}")
        for name, checkpoints, actions in [
            # MinHash candidates, the pair graph, and the 3 label rounds
            # this graph needs at sf0.01; no action
            ("dedup_cluster_components", 5, {}),
            # MinHash candidates, the pair graph, and 5 rank rounds; the
            # node count is a driver scalar of the rank formula
            ("dedup_pagerank_centrality", 7, {"count": 1}),
            # MinHash candidates, the pair graph and the 2 peeling rounds
            # of each k (2, 3); the graph's distinct node count
            ("dedup_graph_kcore", 6, {"count": 1}),
            # MinHash candidates, the pair graph, and 3 vote rounds
            ("dedup_label_communities", 5, {}),
            # the positioned tokens, the seed ranks, the one doubling
            # round this corpus needs, and the lifted pairs
            ("dedup_exact_substr_suffix_array", 4, {}),
            # the features and the held-out scores; one gradient collect
            # per step of both fits (12 + 8)
            ("classifier_platt_recalibration", 2, {"collect": 20}),
        ]
    ],
)
def test_graph_query_checkpoints_its_pair_graph_once(
    spark, monkeypatch, name, checkpoints, actions
):
    """Counts the checkpoints and the other actions (outermost calls only)
    started while the query is built. ``pyspark.sql.DataFrame`` is only the
    base class; the session's frames are the classic subclass."""
    counted, depth = Counter(), [0]

    def counting(method, original):
        def call(self, *args, **kwargs):
            if depth[0] == 0:
                counted[method] += 1
            depth[0] += 1
            try:
                return original(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return call

    for method in ("localCheckpoint", *_ACTIONS):
        monkeypatch.setattr(
            DataFrame, method, counting(method, getattr(DataFrame, method))
        )
    entrymod.queries()[name](spark, SF_DIR_ORACLE)
    assert counted.pop("localCheckpoint", 0) == checkpoints
    assert dict(counted) == actions
