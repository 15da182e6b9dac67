"""Runtime conf pins on the shared session: every pin in the package goes
through ``session.scoped_conf``, overlapping pins from concurrent clients
restore the session's values, and no other module sets or unsets a runtime
conf (static guard, in the style of ``test_paths.py``)."""

from __future__ import annotations

import ast
import sys
import threading

import pytest

from datafusion_impl_spark.operators import bounded_iteration
from datafusion_impl_spark.session import scoped_conf
from tests.static_scan import method_calls, package_hits

_SHUFFLE = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
_STATE_STORE = "spark.sql.streaming.stateStore.providerClass"
_PINNED = (_SHUFFLE, _AQE, _STATE_STORE)

# The one runtime-conf write allowed outside session.py: load_table's
# guarded, set-once nanosAsLong. It is never restored because it always
# writes the same value, and it only takes effect on sessions not built by
# session.configure (which sets it already), such as a plain driver session.
_ALLOWED = {
    "datafusion_impl_spark/sources/registry.py": [
        ("set", "spark.sql.legacy.parquet.nanosAsLong")
    ],
}


def _confs(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in _PINNED}


def _run_threads(*targets) -> None:
    """Run each target in its own thread; re-raise the first failure."""
    errors = []

    def guarded(target):
        try:
            target()
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=guarded, args=(t,)) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]


def test_overlapping_pins_restore_the_session(spark):
    """Thread A pins, then thread B pins while A still holds its pin, and A
    leaves first. Without turns, B saves A's pinned values and puts them
    back for good."""
    before = _confs(spark)
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()

    def a():
        try:
            with bounded_iteration(spark, 10):
                a_in.set()
                b_in.wait(2)  # B waits for the lock, so this times out
        finally:
            a_out.set()

    def b():
        assert a_in.wait(2)
        with bounded_iteration(spark, 10):
            b_in.set()
            a_out.wait(2)

    _run_threads(a, b)
    assert _confs(spark) == before


def test_concurrent_pins_exclude_each_other(spark):
    """Eight threads (more than cores) pin distinct values in a loop under a
    short switch interval; each sees only its own value inside its pin."""
    before = _confs(spark)

    def pin(value):
        def go():
            for _ in range(20):
                with scoped_conf(spark, {_SHUFFLE: value}):
                    assert spark.conf.get(_SHUFFLE) == value

        return go

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _run_threads(*(pin(str(n)) for n in range(2, 10)))
    finally:
        sys.setswitchinterval(interval)
    assert _confs(spark) == before


def test_scoped_conf_restores_set_unset_and_on_error(spark):
    unset_key = "spark.sql.cbo.enabled"
    assert spark.conf.get(unset_key, None) is None
    before = spark.conf.get(_SHUFFLE)
    with scoped_conf(spark, {unset_key: "true", _SHUFFLE: "3"}):
        assert spark.conf.get(unset_key) == "true"
        assert spark.conf.get(_SHUFFLE) == "3"
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(_SHUFFLE) == before

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, {unset_key: "true", _SHUFFLE: "3"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(_SHUFFLE) == before


def test_nested_pins_restore_last_in_first_out(spark):
    before = _confs(spark)
    with scoped_conf(spark, {_SHUFFLE: "3"}):
        with bounded_iteration(spark, 10):
            assert spark.conf.get(_SHUFFLE) == "1"
            assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_SHUFFLE) == "3"
        assert spark.conf.get(_AQE) == before[_AQE]
    assert _confs(spark) == before


def test_iterative_operator_next_to_tpch_query(spark, duck):
    """An iterative operator (pinned) and a TPC-H query run together on the
    shared session; both stay oracle-correct and the session's confs are
    unchanged afterwards."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR_ORACLE
    from tests.oracle_utils import compare_spark_duckdb

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = ("dedup_cluster_components", "q3_shipping_priority")
    before = _confs(spark)
    start = threading.Barrier(len(names), timeout=60)
    results = {}

    def run(name):
        def go():
            start.wait()
            df = queries[name](spark, SF_DIR_ORACLE)
            results[name] = (df.schema, df.collect())

        return go

    _run_threads(*(run(n) for n in names))
    for name in names:
        schema, rows = results[name]
        ok, msg = compare_spark_duckdb(spark.createDataFrame(rows, schema), duck, oracles[name])
        assert ok, f"{name}: {msg}"
    assert _confs(spark) == before


def conf_writes(source: str) -> list[tuple[int, str, str | None]]:
    """(line, method, first argument if a string constant) for each
    ``<x>.conf.set(...)`` / ``<x>.conf.unset(...)`` call in ``source``."""
    found = []
    for node in method_calls(source, ("set", "unset")):
        owner = node.func.value
        if isinstance(owner, ast.Attribute) and owner.attr == "conf":
            arg = node.args[0] if node.args else None
            key = arg.value if isinstance(arg, ast.Constant) else None
            found.append((node.lineno, node.func.attr, key))
    return found


def test_audit_catches_a_planted_conf_write():
    src = 'spark.conf.set(\n    "k", "v")\nself.spark.conf.unset(key)\nbuilder.config("k", "v")\nd.set("k")\n'
    assert conf_writes(src) == [(1, "set", "k"), (3, "unset", None)]


def test_runtime_confs_are_set_only_through_scoped_conf():
    writes = {
        path: [(m, k) for _, m, k in hits]
        for path, hits in package_hits(conf_writes).items()
        if path != "datafusion_impl_spark/session.py"
    }
    assert writes == _ALLOWED
