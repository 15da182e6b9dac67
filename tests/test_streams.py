"""File-fed streams run one way: ``streaming._stage_feed`` writes every feed
and ``streaming._drain`` runs every stream into a memory sink with a unique
name whose view it drops (static guards in the style of
``test_materialize.py``). So threads can run the same stream queries on one
session, no call leaves a view behind, and no feed outlives its process."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.streaming.readwriter import DataStreamWriter

from datafusion_impl_spark.streaming import ORACLES, QUERIES
from tests.conftest import SF_DIR, SF_DIR_ORACLE
from tests.oracle_utils import compare_spark_duckdb
from tests.static_scan import REPO, by_function, method_calls, package_hits

_STREAMING = "datafusion_impl_spark/streaming/__init__.py"

#: the functions that may start a stream or name its sink: the drain, its
#: starter, the CDC foreachBatch writer, and the Python-source loop (that
#: source cannot run with availableNow)
_ALLOWED = {
    (_STREAMING, "_drain"),
    (_STREAMING, "_run_pinned"),
    (_STREAMING, "stream_cdc_merge_stats"),
    ("datafusion_impl_spark/sources/pydatasource.py", "python_datasource_stream_agg"),
}

#: one unpinned (stateless) and one pinned (aggregating) stream, in the
#: order each client runs them
_STREAMS = ("stream_quality_scoring", "stream_hll_distinct_users")


def stream_sites(source: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of each ``writeStream`` and each
    ``queryName(...)``/``start(...)`` call in ``source``."""
    lines = [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    ]
    lines += [c.lineno for c in method_calls(source, ("queryName", "start"))]
    return by_function(source, lines)


def feed_writes(source: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of each ``write_table(...)`` call."""
    calls = method_calls(source, ("write_table",))
    return by_function(source, [c.lineno for c in calls])


def test_guard_catches_planted_stream_sites_and_feed_writes():
    src = (
        "def _drain(spark, stream, mode, confs):\n"
        "    return stream.writeStream.queryName(name)\n"
        "def stream_x(spark):\n"
        "    w = df.writeStream.format('memory')\n"
        "    w.queryName('stream_x_drv').start()\n"
        "    papq.write_table(t, 'x.parquet')\n"
        "def _stage_feed(*parts):\n"
        "    papq.write_table(parts[0], 'p.parquet')\n"
        "queryName('free function')\n"
    )
    assert stream_sites(src) == [
        ("_drain", 2), ("_drain", 2), ("stream_x", 4), ("stream_x", 5),
        ("stream_x", 5),
    ]
    assert feed_writes(src) == [("stream_x", 6), ("_stage_feed", 8)]


def test_streams_start_only_in_the_drain_and_its_two_exceptions():
    sites = {
        (path, fn)
        for path, hits in package_hits(stream_sites).items()
        for fn, _ in hits
    }
    assert sites - _ALLOWED == set()
    # every exemption is still used, so the list cannot go stale
    assert sites == _ALLOWED


def test_feeds_are_written_only_by_stage_feed():
    writes = [
        (path, fn, line)
        for path, hits in package_hits(feed_writes).items()
        if path.startswith("datafusion_impl_spark/streaming/")
        for fn, line in hits
    ]
    assert [w for w in writes if w[1] != "_stage_feed"] == []
    assert len(writes) == 1


def test_memoized_feed_is_removed_at_exit():
    """The TWS feed lives until its process exits, then goes with it."""
    code = (
        "import os\n"
        "from datafusion_impl_spark.streaming import _tws_shared_split_feed\n"
        f"feed = _tws_shared_split_feed({SF_DIR!r})\n"
        "print(feed)\n"
        "print(sorted(os.listdir(feed)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, check=True, timeout=120,
    )
    feed, files = out.stdout.splitlines()[-2:]
    assert files == "['part-00000.parquet', 'part-00001.parquet']"
    assert not os.path.exists(feed)
    assert not os.path.exists(os.path.dirname(feed))


def test_threads_run_the_same_streams_on_one_session(spark, duck, monkeypatch):
    """Two clients each run an unpinned and a pinned stream query on one
    session. The second client's unpinned stream starts while the lead's
    runs, where a fixed sink name fails that start (two starts at the same
    instant both pass Spark's name check); pinned streams take turns, where
    a fixed sink name lets one client read the other's sink."""
    ready = threading.Barrier(2)
    lead_running = threading.Event()
    turn = threading.local()
    start = DataStreamWriter.start

    def overlapping_start(self, *args, **kwargs):
        if getattr(turn, "done", True):
            return start(self, *args, **kwargs)
        turn.done = True
        ready.wait(timeout=120)
        if not turn.lead:
            lead_running.wait(timeout=120)
        query = start(self, *args, **kwargs)
        lead_running.set()
        return query

    monkeypatch.setattr(DataStreamWriter, "start", overlapping_start)

    def client(lead: bool):
        turn.lead, turn.done = lead, False
        return [(name, QUERIES[name](spark, SF_DIR_ORACLE)) for name in _STREAMS]

    with ThreadPoolExecutor(2) as pool:
        runs = [pool.submit(client, lead) for lead in (True, False)]
        results = [item for run in runs for item in run.result(timeout=300)]
    assert len(results) == 4
    for name, df in results:
        ok, msg = compare_spark_duckdb(df, duck, ORACLES[name])
        assert ok, f"{name}: {msg}"


def test_stream_queries_leave_no_view_behind(spark):
    # temp views are per session: a fresh one has none that an earlier
    # test left behind
    session = spark.newSession()
    before = sorted(t.name for t in session.catalog.listTables())
    for name in _STREAMS:
        QUERIES[name](session, SF_DIR_ORACLE).collect()
    assert sorted(t.name for t in session.catalog.listTables()) == before
    assert session.streams.active == []
