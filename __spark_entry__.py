"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries and oracles live next to each other in
``datafusion_impl_spark/plans/*`` and ``datafusion_impl_spark/operators/*``;
this module only merges their registries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from datafusion_impl_spark.operators import curation as _curation
from datafusion_impl_spark.operators import dedup as _dedup
from datafusion_impl_spark.operators import graph as _graph
from datafusion_impl_spark.operators import multimodal as _multimodal
from datafusion_impl_spark.operators import sampling as _sampling
from datafusion_impl_spark.operators import similarity as _similarity
from datafusion_impl_spark.operators import structured as _structured
from datafusion_impl_spark.operators import text as _text
from datafusion_impl_spark.operators import training as _training
from datafusion_impl_spark.plans import analytics as _analytics
from datafusion_impl_spark.plans import cdc as _cdc
from datafusion_impl_spark.plans import joins_ext as _joins_ext
from datafusion_impl_spark.plans import modern as _modern
from datafusion_impl_spark.plans import quality as _quality
from datafusion_impl_spark.plans import regexp as _regexp
from datafusion_impl_spark.plans import tpch as _tpch
from datafusion_impl_spark.plans import tpch2 as _tpch2
from datafusion_impl_spark.plans import tpch3 as _tpch3
from datafusion_impl_spark.plans import tpch4 as _tpch4
from datafusion_impl_spark.sources import pydatasource as _pydatasource
from datafusion_impl_spark.sources import queries as _source_queries
from datafusion_impl_spark import streaming as _streaming

# Module registries (order here no longer drives the correctness window —
# see _PRIORITY below).
_MODULES = [
    _dedup,
    _graph,
    _similarity,
    _text,
    _sampling,
    _curation,
    _structured,
    _multimodal,
    _training,
    _streaming,
    _tpch,
    _tpch2,
    _tpch3,
    _tpch4,
    _joins_ext,
    _modern,
    _cdc,
    _quality,
    _regexp,
    _analytics,
    _source_queries,
    _pydatasource,
]

# The driver's correctness gate checks the FIRST 50 entries of queries(), so
# window membership is rotated deliberately each round to converge coverage.
# Rotation history:
#   r1: tpch + analytics head (33 rows recorded)
#   r2: tpch tranches 1-3, analytics, joins_ext, regexp (50 rows)
#   r3: LLM-pipeline layer — dedup/graph/similarity/text/sampling/curation/
#       structured/multimodal + 4 training (50 rows, 48 green + 2 no_oracle)
#   r4: the 27 queries never covered by r1-r3 + that round's new queries
#       (50 rows, 45 green + 2 red-now-fixed + 3 no_oracle)
#   r5 (this list): the 2 repaired r4 reds first, then the 48 highest-value
#       queries that have NEVER had a driver row (r4 session-2 batch + the
#       production-ANN flagships + analytics/modern/quality remainder).
#       After r5, union driver coverage is >=200 of the 205 queries that
#       existed at r5's start; the 3 deferred stragglers plus the 32 NEW
#       r5 operators (registry now 237) formed r5's _NEXT_ROTATION. The
#       rows-only `no_oracle` trio (regexp_safe_edge_cases,
#       approx_distinct_parts, profile_orders_columns_approx) is dropped
#       from the window PERMANENTLY — the driver records only `err` for
#       them, so keeping them burned 3 green slots per round (r4 verdict).
#   r6 (this list): the 35 never-driver-checked queries (3 deferred source
#       queries + 32 r5 operators, exactly r5's _NEXT_ROTATION) + 15
#       oldest-evidence pads (the 3 r1-only scalar families + 12 r2-era
#       core queries untouched since). After r6, every query that was
#       oracled at r6's START has a driver row — terminal coverage for the
#       pre-r6 registry; the 10 NEW r6 operators (registry now 247, 240
#       oracled) queue in _NEXT_ROTATION for r7.
#   r7: the 10 r6-new queries (r6's _NEXT_ROTATION, all judge-verified
#       local-oracle PASS in the r6 session) + the 37 queries whose newest
#       driver row was still r2 + 3 oldest-r3 LLM flagships. After r7, no
#       oracled query's newest evidence predates r3. The 50/50 went green.
#   r9 (this list; r8 was a 31-turn short round that never rotated): the 16
#       r7-new queries (r7's _NEXT_ROTATION verbatim — the ONLY oracled
#       queries without a driver row, all judge-verified local-oracle PASS
#       in the r7 session) + 34 of the 45 queries whose newest driver row
#       is still CORRECTNESS_r03. The 11 remaining r3-evidence queries queue
#       in _NEXT_ROTATION ahead of the r9-new operators (registry now 275,
#       268 oracled), so after r10 the evidence recency floor moves to r4.
#   r10: staged 23 (11 r3-evidence pads + 12 r9-new) + 27 r4-evidence pads,
#       but the r10 round ended WITHOUT a driver verify pass (no
#       CORRECTNESS_r10.json, same as r8) — none of those rows were recorded.
#   r11 (this list): every oracled query with NO driver row at all — the 12
#       r9-new + the 15 r10-new operators, all 27 re-verified PASS against
#       DuckDB at sf0.01 in the r11 session — then the 11 r3-evidence pads,
#       then 12 of the 45 r4-evidence pads (alphabetical head). The 33
#       remaining r4-evidence queries queue in _NEXT_ROTATION ahead of
#       r11-new operators.
#   r12: the 18 r11-new operators (the ONLY oracled queries with no driver
#       row, all judge-re-verified PASS in the r11 session) + 32 of the 33
#       remaining r4-evidence pads. Went 50/50 green — after r12 every
#       oracled query has a driver row; evidence floor r5 except
#       zorder_orders_layout (green r4).
#   r13 (this list): zorder_orders_layout first (the sole r4-evidence
#       query), then the 24 r13-NEW operators (never driver-checked; every
#       one oracle-verified PASS vs DuckDB at sf0.01 in the r13 sessions —
#       9 from the first session, 15 from the second), then the 25
#       alphabetically-first of the 50 r5-evidence pads. The 25 remaining
#       r5 pads queue in _NEXT_ROTATION; after a green r13 the evidence
#       floor moves to r6 except those twenty-five.
#   r14 (this list): MATERIALLY-CHANGED queries first — the five
#       stream_tws_* queries (consolidated onto the shared composite
#       stream, r13 verdict #1) and the two r13-ADVICE-touched queries
#       (dp_laplace_event_histogram: double-round dropped;
#       t_closeness_audit: oracle VALUES cast) — then r14-NEW operators as
#       they land, then the 25 r5-evidence pads staged in r13's
#       _NEXT_ROTATION. Every changed/new entry oracle-verified PASS vs
#       DuckDB at sf0.01 in the r14 session before staging.
#   r16: the 20 r6-evidence pads displaced into r15's _NEXT_ROTATION,
#       then the 6 r16-new operators, then the alphabetical head of the
#       48 r7-evidence pads. Went 50/50 green (CORRECTNESS_r16) — the
#       r16-build rework (suffix-array pair, CDC stats, 3 pinned ANN
#       queries) all hash-matched. 24 r7-evidence pads remained.
#   r15 (this list): the 2 never-staged rows-only queries first (r14
#       verdict #3 — after this round EVERY registry entry has a driver
#       row), then r15-new operators, then the 4 r14-ADVICE-materially-
#       changed queries (RHO/int-quant DECIMAL sums, spec-ngram oracle),
#       then the 47 r6-evidence pads (window overflows 50 by design; the
#       driver takes the head, leftovers stay next in line). Evidence
#       floor moves to r7.
_ROTATION = [
    # --- r17 (optimization round 2): MATERIALLY-CHANGED queries first —
    # every query whose plan this round rewrote (array-packed exact
    # verifies + grouped pair expansion, struct-min argmin assignments,
    # the position-level skip-gram gate, the trimmed TWS processors) must
    # get a driver hash row on the new code; each was oracle-verified
    # PASS vs DuckDB at sf0.01 in the r17 session before staging. Then
    # the r16-optimized queries the r16 window never covered (verdict #3).
    # The 25 queued r7-evidence pads take the remaining slots; leftovers
    # stay first in _NEXT_ROTATION.
    "dedup_documents_minhash",
    "dedup_documents_ngram",
    "dedup_documents_containment",
    "dedup_documents_winnowing",
    "minhash_estimation_error",
    "dedup_bbit_minhash",
    "contrastive_pairs_mining",
    "embedding_near_dup_pairs",
    "dedup_minhash_param_sweep",
    "entity_resolution_customers",
    "skipgram_negative_pairs",
    "ann_ivf_pq_topk",
    "ann_residual_pq_recall",
    "ann_pq_adc_recall",
    "ann_pq_refine_recall",
    "ann_opq_subspace_balance",
    "ann_knn_graph_ivf",
    "ann_ivf_recall_sweep",
    "dedup_semantic_ivf",
    "ann_sq8_recall",
    "ann_rrf_fusion",
    "embedding_kmeans_clusters",
    "dedup_label_communities",
    "dedup_community_bridges",
    "speculative_ngram_acceptance",
    "stream_ann_adc_topk",
    "stream_tws_user_totals",
    "stream_tws_warm_start",
    "stream_contribution_capping",
    "dedup_cluster_components",
    "dedup_near_survivors",
    "dedup_token_savings",
    "split_group_aware",
    "stream_near_dup_flags",
    "dedup_detector_prf",
    # --- r16-optimized, never driver-verified on the optimized code ---
    "unigram_lm_tokenizer_em",
    "unigram_viterbi_encode",
    "stream_hll_distinct_users",
    "stream_bloom_ingest_filter",
    "stream_quantile_histogram",
    "stream_cms_heavy_hitters",
    # --- oldest-evidence pads (r7; the 25 queued in r16 — the window
    # takes their head, the rest queue for the next round) ---
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q21_waiting_suppliers",
    "q22_idle_rich_customers",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume",
    "q8_market_share",
    "regexp_docs_first_word",
    "regexp_events_props",
    "regexp_extract_all_props",
    "set_except_all_priorities",
    "set_except_nations",
    "set_intersect_all_priorities",
    "set_intersect_nations",
    "token_zipf_fit",
    "topk_expensive_orders",
    "udaf_geometric_mean_events",
    "unpivot_part_measures",
    "window_event_gaps",
    "window_rank_family",
    "zorder_layout_effectiveness",
]

# The correctness window is the first 50 queries(); both halves are cut
# from the one rotation list so the window cannot drift from that size.
_PRIORITY = _ROTATION[:50]
_NEXT_ROTATION = _ROTATION[50:]


def _ordered(merged: dict, *, complete: bool = True) -> dict:
    """Rotation names first (in _ROTATION order), then everything else in
    module order — so the 50-query correctness window is exactly _PRIORITY
    while the full registry stays complete.

    A rotation name that doesn't resolve in the merged QUERIES registry
    fails LOUDLY (r12 advice): a typo would otherwise silently shrink the
    50-query window and promote an unintended query into the correctness
    gate. The ORACLES registry is legitimately sparser (rows-only-by-design
    queries carry no oracle — r15 stages two of them), so its ordering
    passes ``complete=False`` and just skips absent names."""
    if complete:
        missing = [n for n in _ROTATION if n not in merged]
        assert not missing, f"rotation names not in registry: {missing}"
    out = {name: merged[name] for name in _ROTATION if name in merged}
    out.update((k, v) for k, v in merged.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: MinHash-LSH near-dedup over
    documents — the north-star LLM-pipeline operator (shingle → portable
    minhash signature → banded LSH candidates → exact-Jaccard verify), fully
    value-checked against the DuckDB oracle at sf0.01."""
    return _dedup.dedup_documents_minhash(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    # A callable ORACLES value is resolved here, at fetch time: oracles
    # whose SQL reads files outside the pre-registered views (e.g. the
    # footer census) stage those files inside the callable, so the oracle
    # works no matter which side the harness runs first.
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return _ordered(
        {k: (v() if callable(v) else v) for k, v in out.items()},
        complete=False,
    )
