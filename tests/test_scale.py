"""Scale-posture tests: plan audits (the plans we'd want at 100 TB, asserted,
not eyeballed) and the skew/partitioning helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_impl_spark import scale
from datafusion_impl_spark.session import scoped_conf
from datafusion_impl_spark.sources.registry import load_table
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# --- plan audits ------------------------------------------------------------

def test_filter_pushdown_reaches_parquet_scan(spark):
    from datafusion_impl_spark.plans.tpch import q6_forecast_revenue

    df = q6_forecast_revenue(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan


def test_column_pruning_narrow_read_schema(spark):
    """A 2-column projection must not scan all 16 lineitem columns."""
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(li)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_similarity_plans_have_no_cartesian_product(spark):
    from datafusion_impl_spark.operators.similarity import (
        ann_cosine_topk,
        embedding_near_dup_pairs,
    )

    for q in (ann_cosine_topk, embedding_near_dup_pairs):
        plan = _plan(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan, q.__name__
    # the brute-force scorer must be a broadcast nested-loop, not a shuffle
    assert "BroadcastNestedLoopJoin" in _plan(ann_cosine_topk(spark, SF_DIR))


def test_small_dims_broadcast(spark):
    from datafusion_impl_spark.plans.tpch import q5_local_supplier_volume

    plan = _plan(q5_local_supplier_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark):
    from datafusion_impl_spark.plans.analytics import topk_expensive_orders

    assert "TakeOrderedAndProject" in _plan(topk_expensive_orders(spark, SF_DIR))


def test_tokenize_vocab_is_distributed_topk(spark):
    """Vocab selection must plan as TakeOrderedAndProject (per-partition
    top-K, driver merges K·partitions rows) — NOT a row_number window over
    the full distinct-token table, which would shuffle a billion-token
    vocabulary to one reducer at 100 TB. The ranking window may appear, but
    only above the ≤64-row limited frame."""
    from datafusion_impl_spark.operators.text import text_tokenize_ids

    plan = _plan(text_tokenize_ids(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_packing_windows_are_sharded(spark):
    """The per-doc running sum must window over (source, shard) — bounded
    tasks — never over source alone, which serializes a dominant source's
    whole corpus onto one task. The only per-source window allowed is the
    prefix scan over shard *summaries* (corpus/shard_size rows)."""
    from datafusion_impl_spark.operators.sampling import (
        _PACK_SHARD_DOCS,
        pack_documents_by_token_budget,
    )
    from tests.conftest import SF_DIR

    df = pack_documents_by_token_budget(spark, SF_DIR)
    plan = _plan(df)
    # every Window node whose frame contains per-doc ordering (doc_id) must
    # also partition by the shard column
    for frag in plan.split("Window ")[1:]:
        spec = frag.splitlines()[0]
        if "doc_id" in spec and "windowspecdefinition(" in spec:
            assert "shard" in spec.split("windowspecdefinition(")[1], spec
    # the shard split is actually exercised: sf0.01 has > _PACK_SHARD_DOCS
    # docs, so at least one source spans multiple shards
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert n_docs > _PACK_SHARD_DOCS


def test_no_python_in_any_relational_plan(registry_audit):
    """No Python evaluation nodes in any query plan, except the queries in
    ``tests.test_plan_audit._ALLOWED_PYTHON`` whose contract is Python. The
    plans come from the shared registry build, so no query is built twice."""
    failures = registry_audit["python"]
    assert not failures, "\n".join(failures)


def test_representative_queries_enter_codegen(spark):
    """WholeStageCodegen spans exist in the final (post-AQE) plans — checked
    after execution because AdaptiveSparkPlan only inserts codegen wrappers
    once stages materialize."""
    from datafusion_impl_spark.operators.text import text_token_stats
    from datafusion_impl_spark.plans.tpch import q1_pricing_summary
    from datafusion_impl_spark.plans.analytics import window_top_orders_per_customer

    for q in (q1_pricing_summary, window_top_orders_per_customer, text_token_stats):
        df = q(spark, SF_DIR)
        df.collect()
        final = _plan(df)
        assert "isFinalPlan=true" in final, q.__name__
        # codegen stages render as "*(n)" prefixes in the plan string
        assert "*(" in final, q.__name__


def test_groupby_plans_two_phase_aggregation(spark):
    """The reference design doc's headline technique (two-phase partial/final
    hash aggregation, spark-groupby-analysis.md:6-35) must appear in the
    physical plan: a partial HashAggregate below the exchange and a final
    one above it — map-side combine shrinks the shuffle to |groups| rows per
    partition."""
    from datafusion_impl_spark.plans.tpch import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    partial_first = plan.index("partial_")
    assert "Exchange hashpartitioning" in plan
    # the partial agg sits below (after, in tree-print order) the exchange
    assert partial_first > plan.index("Exchange hashpartitioning")


# --- salted group-by --------------------------------------------------------

def test_salted_groupby_matches_plain(spark):
    ev = load_table(spark, SF_DIR, "events").select("event_type", "value")
    got = {
        r.event_type: (r.n, round(r.total, 4), r.vmin, r.vmax)
        for r in scale.salted_groupby(
            ev,
            ["event_type"],
            {
                "n": ("count", "value"),
                "total": ("sum", "value"),
                "vmin": ("min", "value"),
                "vmax": ("max", "value"),
            },
        ).collect()
    }
    expected = {
        r.event_type: (r.n, round(r.total, 4), r.vmin, r.vmax)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert got == expected


def test_salted_groupby_rejects_non_algebraic(spark):
    ev = load_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError):
        scale.salted_groupby(ev, ["event_type"], {"a": ("avg", "value")})


# --- salted join ------------------------------------------------------------

def test_salted_join_matches_plain(spark):
    ev = load_table(spark, SF_DIR, "events").select("user_id", "event_type", "value")
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    got = sorted(
        (r.user_id, r.event_type, r.value, r.c_mktsegment)
        for r in scale.salted_join(ev, cust, "user_id", "c_custkey")
        .select("user_id", "event_type", "value", "c_mktsegment")
        .collect()
    )
    expected = sorted(
        (r.user_id, r.event_type, r.value, r.c_mktsegment)
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .select("user_id", "event_type", "value", "c_mktsegment")
        .collect()
    )
    assert got == expected and len(got) > 0


# --- bucketed co-located join ------------------------------------------------

def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed identically on the join key must sort-merge-join
    with no Exchange on either side — the co-located fact-fact join layout."""
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    scale.write_bucketed(orders, "bt_orders", ["o_orderkey"], n_buckets=8)
    scale.write_bucketed(li, "bt_lineitem", ["l_orderkey"], n_buckets=8)
    try:
        bo = spark.table("bt_orders").hint("merge")
        bl = spark.table("bt_lineitem").hint("merge")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # correctness: same row count as the unbucketed join
        assert joined.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


def test_bucketed_pruned_join_query_plan(spark):
    """The registry-level bucketed layout query: the priority filter must be
    a PartitionFilter on the bucketed orders scan (directory pruning, not a
    data filter), both scans must read bucketed, and the custkey join must
    be an Exchange-free sort-merge join. The aggregate/final-sort exchanges
    after the join are the only ones allowed."""
    from datafusion_impl_spark.sources.queries import bucketed_orders_pruned_join

    plan = _plan(bucketed_orders_pruned_join(spark, SF_DIR))
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    orders_scan = plan.split("orders_bkt", 1)[1][:600]
    assert "o_orderpriority" in orders_scan.split("PartitionFilters", 1)[1][:150]
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan


# --- cost-based optimizer (catalog statistics) -------------------------------

def test_cbo_stats_inform_the_plan(spark):
    """ANALYZE TABLE + spark.sql.cbo must flow catalog statistics into the
    optimizer: with stats + CBO on, the optimized plan carries a row-count
    estimate derived from COLUMN stats (the groupBy(n_name) estimate equals
    nation's n_name NDV, not a file-size guess) — with CBO off the same plan
    has no rowCount at all. This is the nightly-ANALYZE + CBO posture a
    100 TB warehouse runs; AQE complements it at runtime but cannot shape
    the initial join tree."""
    import shutil

    for t, cols in (
        ("customer", ["c_custkey", "c_nationkey", "c_acctbal"]),
        ("orders", ["o_orderkey", "o_custkey", "o_totalprice"]),
        ("nation", ["n_nationkey", "n_name"]),
    ):
        # an interrupted earlier run can leave the warehouse dir without a
        # metastore entry; saveAsTable refuses orphan locations
        spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
        shutil.rmtree(f"spark-warehouse/cbo_{t}", ignore_errors=True)
        load_table(spark, SF_DIR, t).select(*cols).write.mode(
            "overwrite"
        ).saveAsTable(f"cbo_{t}")
    cbo_keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    try:
        scale.analyze_tables(spark, "cbo_customer", "cbo_orders", "cbo_nation")
        # table-level stats recorded in the catalog
        desc = spark.sql("DESCRIBE TABLE EXTENDED cbo_customer").collect()
        stats_rows = [r.data_type for r in desc if r.col_name == "Statistics"]
        n_cust = load_table(spark, SF_DIR, "customer").count()
        assert stats_rows and f"{n_cust} rows" in stats_rows[0]

        def _stats():
            o, c, n = (
                spark.table("cbo_orders"),
                spark.table("cbo_customer"),
                spark.table("cbo_nation"),
            )
            j = (
                o.join(c, o.o_custkey == c.c_custkey)
                .join(n, c.c_nationkey == n.n_nationkey)
                .groupBy("n_name")
                .count()
            )
            return j, j._jdf.queryExecution().optimizedPlan().stats()

        with scoped_conf(spark, dict.fromkeys(cbo_keys, "true")):
            j_on, st_on = _stats()
            assert st_on.rowCount().isDefined()
            # 25 = nation.n_name NDV from ANALYZE ... FOR ALL COLUMNS: the
            # estimate is column-stat-derived, not a size heuristic
            assert st_on.rowCount().get() == 25
            assert st_on.attributeStats().size() > 0
            assert "BroadcastHashJoin" in _plan(j_on)
            rows_on = sorted((r.n_name, r["count"]) for r in j_on.collect())

        with scoped_conf(spark, dict.fromkeys(cbo_keys, "false")):
            j_off, st_off = _stats()
            assert not st_off.rowCount().isDefined()
            # CBO changes estimates, never results
            assert rows_on == sorted((r.n_name, r["count"]) for r in j_off.collect())
    finally:
        for t in ("cbo_customer", "cbo_orders", "cbo_nation"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# --- partitioned layout + pruning -------------------------------------------

def test_write_partitioned_prunes_on_read(spark, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    scale.write_partitioned(
        orders, path, ["o_orderstatus"], sort_cols=["o_orderkey"]
    )
    pruned = scale.read_pruned(spark, path, F.col("o_orderstatus") == "F")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0]
    # correctness: pruned read returns exactly the F-status rows
    expected = orders.filter(F.col("o_orderstatus") == "F").count()
    assert pruned.count() == expected


# --- curation / tranche-4 plan audits ---------------------------------------

def test_repetition_stats_is_single_pass(spark):
    """The rewritten repetition query computes the per-doc top-bigram count
    inside the row (sorted-array longest-equal-run), so the plan must have
    NO join and NO explode — one scan, one aggregation exchange."""
    from datafusion_impl_spark.operators.text import text_repetition_stats

    plan = _plan(text_repetition_stats(spark, SF_DIR))
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode node


def test_curation_dedup_windows_partition_by_key(spark):
    """First-occurrence survivor ranks must window over the content key
    (uniform hash / canonical URL) — bounded groups — never an
    un-partitioned global window."""
    from datafusion_impl_spark.operators.curation import (
        dedup_documents_url,
        dedup_paragraphs_global,
    )

    for q, key in ((dedup_paragraphs_global, "h#"), (dedup_documents_url, "canonical#")):
        plan = _plan(q(spark, SF_DIR))
        specs = [
            frag.split("windowspecdefinition(")[1]
            for frag in plan.split("Window ")[1:]
            if "windowspecdefinition(" in frag.splitlines()[0]
        ]
        assert specs, q.__name__
        for spec in specs:
            assert key in spec, (q.__name__, spec)


def test_quantization_ranges_broadcast(spark):
    """The 64-row per-dimension range table must broadcast back onto the
    exploded elements — a shuffled join here would re-partition the whole
    element table (rows × dims) on a 64-value key."""
    from datafusion_impl_spark.operators.curation import (
        embedding_quantization_report,
    )

    plan = _plan(embedding_quantization_report(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch4_scalar_thresholds_use_windows_not_reaggregation(spark):
    """Q2's per-part min and Q20's per-part total must come from a window
    over the part key (one shuffle) rather than a join back to a separate
    aggregation of the same subtree (two shuffles + a repeated scan)."""
    from datafusion_impl_spark.plans.tpch4 import (
        q2_min_cost_supplier,
        q20_part_flow_suppliers,
    )

    for q in (q2_min_cost_supplier, q20_part_flow_suppliers):
        plan = _plan(q(spark, SF_DIR))
        assert "windowspecdefinition(" in plan, q.__name__


def test_dynamic_partition_pruning_on_join(spark, tmp_path):
    """Join-driven pruning: a partition-keyed join against a filtered dim
    must inject a dynamicpruningexpression into the fact scan's
    PartitionFilters — at 100 TB this is what turns a full-table scan into
    reading only the joined partitions."""
    path = str(tmp_path / "orders_by_priority")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    scale.write_partitioned(orders, path, ["o_orderpriority"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2)], "prio string, rank int"
    ).filter(F.col("rank") == 1)
    j = fact.join(dim, fact.o_orderpriority == dim.prio).groupBy("prio").agg(
        F.sum("o_totalprice").alias("v")
    )
    plan = _plan(j)
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]


def test_perplexity_lm_broadcasts(spark):
    """The unigram LM must broadcast onto the token stream — a shuffled
    token-keyed join would put every Zipf-head token on one reducer."""
    from datafusion_impl_spark.operators.text import text_perplexity_proxy

    plan = _plan(text_perplexity_proxy(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_overlap_and_coverage_have_no_cartesian(spark):
    """The gram-keyed self-joins must stay equi-joins on the hash — the
    DF caps bound fan-out, never via a cross product."""
    from datafusion_impl_spark.operators.curation import (
        repeated_ngram_coverage,
        source_overlap_matrix,
    )

    for q in (source_overlap_matrix, repeated_ngram_coverage):
        assert "CartesianProduct" not in _plan(q(spark, SF_DIR)), q.__name__


def test_join_strategy_hints_control_physical_plan(spark):
    """The engine surface must honor per-join strategy hints — the manual
    override lever when AQE's choice is wrong for a workload: broadcast,
    merge (SMJ), and shuffle_hash each produce their named physical join
    over the same logical query."""
    o = load_table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    joined = lambda hint: o.join(c.hint(hint), o.o_custkey == c.c_custkey)  # noqa: E731
    assert "BroadcastHashJoin" in _plan(joined("broadcast"))
    assert "SortMergeJoin" in _plan(joined("merge"))
    assert "ShuffledHashJoin" in _plan(joined("shuffle_hash"))


def test_range_partitioned_write_gives_disjoint_file_ranges(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions is the 1-D layout
    counterpart of the Z-order test: written files must cover DISJOINT
    key ranges (file-level min/max stats then prune range predicates to
    ~1/N of the files)."""
    import pyarrow.parquet as pq
    import os

    path = str(tmp_path / "orders_range")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    (
        orders.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, (ranges,)  # strictly disjoint key ranges


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """Runtime row-level bloom filtering — the 100 TB mechanism that lets a
    selective dim-side predicate prune the fact-side SCAN of a shuffle join
    (the dim side aggregates a bloom filter of its join keys at runtime;
    the fact side applies might_contain before shuffling). Locally the
    application-side threshold (10 GB default) suppresses it, so the test
    lowers the threshold and asserts the optimizer injects the filter into
    a lineitem ⋈ σ(orders) plan — proving the engine config path is live."""
    from pyspark.sql import functions as F

    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    with scoped_conf(spark, confs):
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in optimized
        # and the filtered plan still returns the exact join result
        expected = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
            .collect()
        )
        assert j.collect() == expected
