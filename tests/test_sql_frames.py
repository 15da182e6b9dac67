"""SQL-authored queries bind their frames one way: as ``spark.sql``
parameters (``spark.sql(text, orders=df)``), which PySpark registers under a
unique name for the one call and drops after analysis. No query names a
view in the shared session, so two threads at two scale factors read their
own tables, and no call leaves a view, a session variable or a temporary
function behind.
``registry.register_all`` stays the one place that names views: its
contract is to name them."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, SF_DIR_ORACLE
from tests.static_scan import by_function, method_calls, package_hits

_VIEW_METHODS = (
    "createOrReplaceTempView",
    "createTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
    "registerTempTable",
)

_ALLOWED = {("datafusion_impl_spark/sources/registry.py", "register_all")}

#: the queries that bind frames into SQL text
_SQL_QUERIES = (
    "recursive_cte_revenue_ema",
    "lateral_top_orders_per_segment",
    "events_props_variant",
    "group_by_all_order_stats",
    "sql_variables_threshold_report",
    "collated_segment_counts",
    "sql_udf_revenue_bins",
    "pipe_syntax_segment_revenue",
    "null_safe_segment_join",
    "holt_winters_monthly_forecast",
    "sql_scripting_threshold_search",
    "grouping_sets_events",
    "events_time_rollup",
    "rolling_distinct_customers",
    "weekly_seasonality_decomposition",
    "range_frame_weekly_revenue",
    "tablesample_repeatable_stats",
    "udtf_polymorphic_tokens",
)

#: a frame-bound query and the session-variable query, in the order each
#: thread runs them
_THREADED = ("events_props_variant", "sql_variables_threshold_report")

_QUERIES = entrymod.queries()


def view_sites(source: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of each call that names a view."""
    calls = method_calls(source, _VIEW_METHODS)
    return by_function(source, [c.lineno for c in calls])


def test_guard_catches_planted_view_registrations():
    src = (
        "def register_all(spark, sf_dir):\n"
        "    load_table(spark, sf_dir, 'x').createOrReplaceTempView('x')\n"
        "def q(spark):\n"
        "    df.createTempView('a')\n"
        "    df.createGlobalTempView('b')\n"
        "    df.createOrReplaceGlobalTempView('c')\n"
        "    df.registerTempTable('d')\n"
        "    return spark.sql('SELECT * FROM {t}', t=df)\n"
        "df.createOrReplaceTempView('at_import')\n"
    )
    assert view_sites(src) == [
        ("register_all", 2), ("q", 4), ("q", 5), ("q", 6), ("q", 7),
        ("<module>", 9),
    ]


def test_views_are_named_only_by_register_all():
    hits = [
        (path, fn)
        for path, found in package_hits(view_sites).items()
        for fn, _ in found
    ]
    assert set(hits) - _ALLOWED == set()
    # the exemption is still used, so the list cannot go stale
    assert hits == sorted(_ALLOWED)


def test_threads_at_two_scales_read_their_own_tables(spark, monkeypatch):
    """Two threads run the same SQL queries, one at each scale factor. Every
    view registration waits until the other thread has registered too, so
    both registrations land before either query is analyzed: a fixed view
    name (or a fixed session variable) then hands one thread the other's
    table. Each result must equal the query run alone at its own scale."""
    scales = (SF_DIR, SF_DIR_ORACLE)
    alone = {
        (sf, name): _QUERIES[name](spark, sf).collect()
        for sf in scales
        for name in _THREADED
    }

    both_registered = threading.Barrier(2)
    register = ClassicDataFrame.createOrReplaceTempView

    def paused_register(self, name):
        register(self, name)
        both_registered.wait(timeout=120)

    monkeypatch.setattr(ClassicDataFrame, "createOrReplaceTempView", paused_register)

    def client(sf: str):
        return {(sf, name): _QUERIES[name](spark, sf).collect() for name in _THREADED}

    with ThreadPoolExecutor(2) as pool:
        runs = [pool.submit(client, sf) for sf in scales]
        together = {k: v for run in runs for k, v in run.result(timeout=600).items()}
    assert together == alone


def test_sql_queries_leave_no_view_or_variable_behind(spark):
    # temp views and variables are per session: a fresh one has none that
    # an earlier test left behind
    session = spark.newSession()
    before = sorted(t.name for t in session.catalog.listTables())
    for name in _SQL_QUERIES:
        _QUERIES[name](session, SF_DIR)
    assert sorted(t.name for t in session.catalog.listTables()) == before
    catalogs = session._jsparkSession.sessionState().catalogManager()
    assert catalogs.tempVariableManager().isEmpty()


def test_sql_queries_leave_no_temporary_function_behind(spark):
    session = spark.newSession()

    def temporary_functions():
        return sorted(f.name for f in session.catalog.listFunctions() if f.isTemporary)

    before = temporary_functions()
    for name in ("sql_udf_revenue_bins", "udtf_polymorphic_tokens"):
        # the analyzed frame still runs once its functions are dropped
        assert _QUERIES[name](session, SF_DIR).count() > 0
    assert temporary_functions() == before
