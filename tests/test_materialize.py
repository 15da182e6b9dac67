"""Eager materialization has one spelling: ``operators.materialize`` is the
package's only ``localCheckpoint`` call (static guard, in the style of
``test_scoped_conf.py``), and the near-dup graph queries checkpoint their
pair graph once."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from datafusion_impl_spark.operators import materialize
from tests.conftest import SF_DIR_ORACLE
from tests.static_scan import method_calls, package_hits


def checkpoint_calls(source: str) -> list[int]:
    """Line of each ``<x>.localCheckpoint(...)`` call in ``source``."""
    return [node.lineno for node in method_calls(source, ("localCheckpoint",))]


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


@pytest.mark.parametrize(
    ("name", "calls"),
    [
        # MinHash candidates, the pair graph, and the 3 label rounds this
        # graph needs at sf0.01
        ("dedup_cluster_components", 5),
        # MinHash candidates, the pair graph, and 5 rank rounds
        ("dedup_pagerank_centrality", 7),
    ],
)
def test_graph_query_checkpoints_its_pair_graph_once(spark, monkeypatch, name, calls):
    """Counts checkpoints while the query is built. ``pyspark.sql.DataFrame``
    is only the base class; the session's frames are the classic subclass."""
    from datafusion_impl_spark.operators.graph import QUERIES

    counted = []
    checkpoint = DataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        counted.append(1)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    QUERIES[name](spark, SF_DIR_ORACLE)
    assert len(counted) == calls
