"""EngineContext façade tests — the reference README's usage flow
(``readme.md:36-57``) transcribed against this engine."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from datafusion_impl_spark.engine import EngineContext
from tests.conftest import SF_DIR


def _ctx(spark) -> EngineContext:
    return EngineContext(spark)


def test_readme_usage_flow(spark, tmp_path):
    """new context → (udf auto-registered) → read_csv → select with the
    function → show/collect — the full readme.md:36-57 flow."""
    ctx = _ctx(spark)
    csv = tmp_path / "data.csv"
    csv.write_text("text\nproduct-123-region\nitem-456-zone\n")
    df = ctx.read_csv(str(csv))
    result = df.select(
        F.col("text"),
        F.expr(r"regexp_extract_safe(text, '(\\d+)', 1)").alias("extracted"),
    )
    rows = result.collect()
    assert [r.extracted for r in rows] == ["123", "456"]
    result.show()  # pretty-print sink, readme.md:55


def test_sql_entry_point_resolves_udf(spark):
    ctx = _ctx(spark)
    row = ctx.sql(
        r"SELECT regexp_extract_safe('test-789-x', '-(\\d+)-', 1) AS v"
    ).collect()[0]
    assert row.v == "789"


def test_values_and_subquery(spark):
    ctx = _ctx(spark)
    got = ctx.sql(
        """
        SELECT id * 2 AS doubled
        FROM (SELECT * FROM VALUES (1),(2),(3) AS t(id))
        ORDER BY doubled
        """
    ).collect()
    assert [r.doubled for r in got] == [2, 4, 6]


def test_registered_testdata_views(spark):
    ctx = _ctx(spark)
    ctx.register_testdata(SF_DIR, ("nation", "region"))
    assert ctx.sql("SELECT COUNT(*) AS n FROM nation").collect()[0].n == 25


def test_concurrent_queries_one_context(spark):
    """Shared-context concurrency (regexp-tests.rs:149-191)."""
    ctx = _ctx(spark)

    def run(i: int) -> int:
        return ctx.sql(f"SELECT {i} * 10 AS v").collect()[0].v

    with ThreadPoolExecutor(max_workers=5) as pool:
        assert list(pool.map(run, range(5))) == [0, 10, 20, 30, 40]


def test_queries_registry_exposed(spark):
    qs = EngineContext.queries()
    assert "q1_pricing_summary" in qs and "dedup_documents_minhash" in qs


def test_hll_rollup_accuracy_and_merge_semantics(spark):
    """The merged-sketch estimate must sit within HLL error (±5% at the
    default lgConfigK) of the exact period distinct count, and the naive
    sum of daily estimates must exceed it whenever users appear on
    multiple days (the double-count the mergeable rollup exists to
    avoid)."""
    from pyspark.sql import functions as F

    from datafusion_impl_spark.plans.analytics import events_user_hll_rollup
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    rows = events_user_hll_rollup(spark, SF_DIR).collect()
    assert rows
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        e = exact[r["event_type"]]
        assert abs(r["est_unique_users"] - e) <= max(2, 0.05 * e)
        assert r["sum_daily_est"] >= r["est_unique_users"]


def test_bitmap_rollup_is_exact(spark):
    """Bitmap OR-merge must equal exact COUNT DISTINCT — not approximately,
    exactly (that is the operator's claim vs the HLL twin)."""
    from pyspark.sql import functions as F

    from datafusion_impl_spark.plans.analytics import bitmap_user_distinct_rollup
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    rows = {r["event_type"]: r for r in bitmap_user_distinct_rollup(spark, SF_DIR).collect()}
    exact = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    )
    assert rows
    for r in exact:
        assert rows[r["event_type"]]["n_unique_users"] == r["n"]


def test_funnel_stages_are_monotone(spark):
    """Funnel populations can only shrink stage to stage, and the strict
    sequencing must bind: stage 2 cannot exceed the count of users who have
    both a view and a click at all."""
    from pyspark.sql import functions as F

    from datafusion_impl_spark.plans.analytics import user_funnel_steps
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    r = user_funnel_steps(spark, SF_DIR).collect()[0]
    assert r["n_users"] >= r["n_view"] >= r["n_click_after_view"] >= r["n_purchase_after_click"]
    ev = load_table(spark, SF_DIR, "events")
    both = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("k"))
        .filter(F.col("k") == 2)
        .count()
    )
    assert r["n_click_after_view"] <= both


def test_trending_windows_cover_every_slide(spark):
    """Every 1-hour slide between the first and last event must surface a
    window (2-hour duration x 1-hour slide => dense coverage), each with a
    single deterministic winner."""
    from pyspark.sql import functions as F

    from datafusion_impl_spark.plans.analytics import trending_event_windows
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    rows = trending_event_windows(spark, SF_DIR).collect()
    starts = [r["w_start"] for r in rows]
    assert len(starts) == len(set(starts))  # one winner per window
    n_event_hours = (
        load_table(spark, SF_DIR, "events")
        .select(F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .count()
    )
    # every hour containing events contributes 2 window starts (h-1, h), so
    # distinct windows ≥ distinct event hours; sparse hours yield no window
    assert len(starts) >= n_event_hours


def test_checksum_buckets_localize_the_damage(spark):
    """The perturbed replica differs in two rows (one delete, one status
    flip). The flip changes the row's hash and can migrate it to another
    bucket, so between 1 and 3 buckets mismatch; total row delta stays one
    and every other bucket agrees on both count and checksum."""
    from datafusion_impl_spark.plans.quality import table_checksum_buckets
    from tests.conftest import SF_DIR

    rows = table_checksum_buckets(spark, SF_DIR).collect()
    bad = [r for r in rows if not r.match]
    assert 1 <= len(bad) <= 3
    assert sum(r.n_a for r in rows) - sum(r.n_b for r in rows) == 1
    for r in rows:
        if r.match:
            assert r.n_a == r.n_b and r.sum_a == r.sum_b


def test_default_driver_heap_fits_the_machine():
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap is sized from the
    machine, never past its physical memory."""
    from datafusion_impl_spark.session import _default_driver_mem

    heap = _default_driver_mem()
    assert heap.endswith("m")
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(heap[:-1]) * 2**20 <= physical
