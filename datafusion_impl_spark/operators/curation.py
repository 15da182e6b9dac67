"""Corpus-curation operators a production pre-training pipeline runs between
raw crawl and tokenization: paragraph-level (sub-document) dedup, URL
canonicalization + dedup, temperature-scaled source mixing weights, and int8
embedding quantization with a reconstruction-error report.

These complement :mod:`.dedup` (document-level) — MassiveText/RefinedWeb-style
pipelines dedup at BOTH granularities: URL first (cheapest key), then exact /
near document, then repeated paragraphs across documents.

100 TB posture:
- paragraph dedup: chunk → md5 hash → first-occurrence rank *per hash key*
  (`Window.partitionBy(hash)`) — the window key is a uniform 60-bit hash, so
  no partition ever exceeds the duplicate-group size; one shuffle on the
  hash, one shuffle for the per-source report.
- URL dedup: pure-Catalyst normalization (lower/regexp_replace in codegen)
  then the same hash-partitioned first-occurrence rank. Never a global sort.
- mixture weights: one groupBy(source) over a projection of (source, tokens)
  — map-side partial agg makes the shuffle 20 rows; the normalizing total is
  a 1-row broadcast.
- quantization: per-dimension min/max is a 64-row aggregate (map-side
  combine), broadcast back; the error report is a second linear pass. No
  step holds more than (dims) rows of state per task.

Cross-engine determinism: chunk/URL survivor choice is a row_number over the
total order (doc_id, chunk_idx) — no ties possible; quantization arithmetic
is single-operation double math per element (bit-identical IEEE754 in both
engines); cross-row double sums are ROUND()ed per the repo ruleset, and
per-element error *maxima* (exact, order-insensitive) carry the precise
signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import duck_md5_long, materialize, md5_long
from datafusion_impl_spark.operators.text import _DUCK_TOKENS, tokens
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]

#: tokens per paragraph chunk. Real pipelines split on newlines; the
#: synthetic corpus has none, so fixed token windows stand in as the
#: paragraph boundary — the dedup machinery (hash → first-occurrence rank →
#: per-source report) is identical either way.
_CHUNK_TOKENS = 10

#: temperature for source mixing (UnifiedQA/XLM-R style: p_i ∝ n_i^alpha —
#: alpha < 1 upweights small sources).
_MIX_ALPHA = 0.5

#: token budget used to express mixture weights as effective epochs.
_MIX_BUDGET_FRACTION = 0.5


# --------------------------------------------------------------------------
# 1. Paragraph-level dedup
# --------------------------------------------------------------------------

def dedup_paragraphs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: split every doc into 10-token chunks, keep only
    the globally FIRST occurrence of each distinct chunk (ordered by
    (doc_id, chunk_idx) — a total order, so the survivor is unique and
    engine-independent), and report per source how much text survives.

    The first-occurrence rank is a window over the chunk *hash* — uniform
    key, bounded groups — never a global sort."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select("doc_id", "source", tokens("text").alias("t")).filter(
        F.size("t") > 0
    )
    chunks = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, int(ceil(size(t) / {_CHUNK_TOKENS}.0))),"
                f" i -> concat_ws(' ', slice(t, (i - 1) * {_CHUNK_TOKENS} + 1,"
                f" {_CHUNK_TOKENS})))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("h", md5_long(F.col("chunk"))).withColumn(
        "keep", (F.row_number().over(w) == 1).cast("long")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("keep").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("keep")).alias("n_removed"),
            # div-safe: COUNT of a GROUP BY group is >= 1
            F.round(F.sum("keep") / F.count(F.lit(1)), 4).alias("kept_frac"),
        )
        .orderBy("source")
    )


_PARA_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKENS.format(col='text')} AS t FROM documents),
chunk_lists AS (
  SELECT doc_id, source,
         list_transform(range(1, CAST(ceil(len(t) / {_CHUNK_TOKENS}.0) AS BIGINT) + 1),
                        i -> array_to_string(list_slice(t, (i - 1) * {_CHUNK_TOKENS} + 1,
                                                        i * {_CHUNK_TOKENS}), ' ')) AS chunks
  FROM toks WHERE len(t) > 0),
chunks AS (
  SELECT doc_id, source,
         generate_subscripts(chunks, 1) AS chunk_idx,
         unnest(chunks) AS chunk
  FROM chunk_lists),
ranked AS (
  SELECT source,
         CASE WHEN ROW_NUMBER() OVER (
             PARTITION BY {duck_md5_long('chunk')}
             ORDER BY doc_id, chunk_idx) = 1 THEN 1 ELSE 0 END AS keep
  FROM chunks)
SELECT source, COUNT(*) AS n_chunks,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_removed,
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
       ROUND(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 4) AS kept_frac
FROM ranked
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# 2. URL canonicalization + dedup
# --------------------------------------------------------------------------

#: Planted URL corpus (the documents table has no URL column): every doc gets
#: a deterministic URL; mutations create canonical-equal variants —
#: doc_id % 3 → tracking query string, % 5 → uppercased host, % 7 → trailing
#: slash. Path collides within a source (floor(doc_id/20) % 8) so
#: canonicalization actually merges rows. Oracle plants identically.
_URL_TRACK = r"\?.*$"


def _url_corpus(docs: DataFrame) -> DataFrame:
    host = F.concat(F.col("source"), F.lit(".example.com"))
    host = F.when(F.col("doc_id") % 5 == 0, F.upper(host)).otherwise(host)
    path = F.concat(F.lit("/p"), (F.floor(F.col("doc_id") / 20) % 8).cast("string"))
    path = F.when(F.col("doc_id") % 7 == 0, F.concat(path, F.lit("/"))).otherwise(path)
    track = F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed")).otherwise(
        F.lit("")
    )
    return docs.select(
        "doc_id",
        "source",
        F.concat(F.lit("https://"), host, path, track).alias("url"),
    )


def dedup_documents_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup, the cheapest pass in a crawl pipeline: canonicalize
    (lowercase host, strip tracking params, strip trailing slash) and keep
    the lowest-doc_id row per canonical URL. All normalization is
    regexp/lower in codegen; the survivor rank partitions on the canonical
    URL (bounded groups), and the report is one groupBy(source)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    urls = _url_corpus(docs)
    canon = F.regexp_replace(
        F.regexp_replace(F.lower("url"), _URL_TRACK, ""), r"/$", ""
    )
    w = Window.partitionBy("canonical").orderBy("doc_id")
    ranked = urls.withColumn("canonical", canon).withColumn(
        "keep", (F.row_number().over(w) == 1).cast("long")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical").alias("n_canonical"),
            F.sum("keep").alias("n_survivors"),
            (F.count(F.lit(1)) - F.sum("keep")).alias("n_removed"),
        )
        .orderBy("source")
    )


_URL_SQL = rf"""
WITH urls AS (
  SELECT doc_id, source,
         'https://'
         || CASE WHEN doc_id % 5 = 0
                 THEN UPPER(source || '.example.com')
                 ELSE source || '.example.com' END
         || '/p' || CAST((doc_id // 20) % 8 AS VARCHAR)
         || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END AS url
  FROM documents),
ranked AS (
  SELECT source,
         regexp_replace(regexp_replace(LOWER(url), '{_URL_TRACK}', ''),
                        '/$', '') AS canonical,
         CASE WHEN ROW_NUMBER() OVER (
             PARTITION BY regexp_replace(regexp_replace(LOWER(url),
                 '{_URL_TRACK}', ''), '/$', '')
             ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS keep
  FROM urls)
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT canonical) AS n_canonical,
       CAST(SUM(keep) AS BIGINT) AS n_survivors,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_removed
FROM ranked
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# 3. Temperature-scaled source mixture weights
# --------------------------------------------------------------------------

#: DoReMi-style step size for the exponentiated-gradient mixture update.
_DOREMI_ETA = 1.0


def mixture_reweight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023,
    simplified to its in-engine skeleton): per source, measure the excess
    loss proxy — the source's cross-entropy under the GLOBAL unigram LM
    (sources whose token distribution the corpus-wide model fits worst
    score highest) — then update the token-share baseline weights by
    exponentiated gradient, ``w_s ∝ u_s · exp(η · ce_s)``, normalized.
    High-excess-loss domains get up-weighted for the next training round;
    the output reports baseline vs updated weight and the delta per
    source — the input a mixture scheduler consumes.

    Determinism: token counts are exact; every ln rounds to 6 and the
    cross-entropy numerators accumulate as DECIMAL (the zipf/OLS
    discipline); exp() runs on the ROUNDED ce, each normalization term
    rounds to 6 again, and the 20-term normalizer sums as DECIMAL — no
    float sum-order anywhere.

    Scale shape: one (source, token) aggregate joined to the broadcast
    global token LM, then arithmetic on the 20-row source table."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select("source", F.explode(tokens("text")).alias("tok"))
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    glob = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_t"))
    total = glob.agg(F.sum("c_t").cast("long").alias("n_total"))
    # -ln p_global(tok), rounded — the per-token surprise under the corpus LM
    nll = F.round(
        # div-safe: n_total is the corpus token count, >= 1 whenever any
        # token row exists (and the LM join only produces rows then)
        -F.log(F.col("c_t") / F.col("n_total")), 6
    )
    ce = (
        st.join(glob, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "c_st",
            (F.col("c_st").cast("decimal(24,8)") * nll).cast(
                "decimal(24,8)"
            ).alias("w_nll"),
        )
        .groupBy("source")
        .agg(
            F.sum("c_st").cast("long").alias("n_tokens"),
            F.sum("w_nll").alias("sum_nll"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(
                # div-safe: n_tokens sums per-source token counts >= 1
                F.col("sum_nll").cast("double") / F.col("n_tokens"), 6
            ).alias("ce"),
        )
    )
    corpus = ce.agg(F.sum("n_tokens").cast("long").alias("n_corpus"))
    terms = ce.crossJoin(F.broadcast(corpus)).select(
        "source",
        "n_tokens",
        "ce",
        # div-safe: n_corpus is the corpus-wide token sum, >= n_tokens >= 1
        # (here and the term below)
        F.round(F.col("n_tokens") / F.col("n_corpus"), 6).alias("base_weight"),
        F.round(
            (F.col("n_tokens") / F.col("n_corpus"))
            * F.exp(F.lit(_DOREMI_ETA) * F.col("ce")),
            6,
        ).alias("term"),
    )
    z = terms.agg(
        F.sum(F.col("term").cast("decimal(24,8)")).alias("z")
    )
    return (
        terms.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            "ce",
            "base_weight",
            # div-safe: z sums strictly positive EG terms
            # (weight * exp(eta*ce) > 0), so z > 0 — here and the delta
            F.round(F.col("term") / F.col("z").cast("double"), 6).alias(
                "new_weight"
            ),
            # div-safe: z > 0 (sum of strictly positive EG terms)
            F.round(
                F.col("term") / F.col("z").cast("double")
                - F.col("base_weight"),
                6,
            ).alias("weight_delta"),
        )
        .orderBy("source")
    )


_DOREMI_SQL = rf"""
WITH toks AS (
  SELECT source, unnest({_DUCK_TOKENS.format(col='text')}) AS tok
  FROM documents
),
st AS (SELECT source, tok, COUNT(*) AS c_st FROM toks GROUP BY source, tok),
glm AS (SELECT tok, COUNT(*) AS c_t FROM toks GROUP BY tok),
total AS (SELECT SUM(c_t) AS n_total FROM glm),
ce AS (
  SELECT s.source,
         CAST(SUM(s.c_st) AS BIGINT) AS n_tokens,
         ROUND(CAST(SUM(CAST(CAST(s.c_st AS DECIMAL(24,8))
                    -- div-safe: n_total >= 1 when token rows exist
                    * ROUND(-ln(CAST(g.c_t AS DOUBLE) / t.n_total), 6)
                    AS DECIMAL(24,8))) AS DOUBLE)
               -- div-safe: per-source token sums are >= 1
               / SUM(s.c_st), 6) AS ce
  FROM st s JOIN glm g USING (tok), total t
  GROUP BY s.source
),
corpus AS (SELECT SUM(n_tokens) AS n_corpus FROM ce),
terms AS (
  SELECT source, n_tokens, ce,
         -- div-safe: n_corpus >= n_tokens >= 1 (here and term below)
         ROUND(CAST(n_tokens AS DOUBLE) / n_corpus, 6) AS base_weight,
         ROUND(CAST(n_tokens AS DOUBLE) / n_corpus
               * exp({_DOREMI_ETA} * ce), 6) AS term
  FROM ce, corpus
),
z AS (SELECT SUM(CAST(term AS DECIMAL(24,8))) AS z FROM terms)
SELECT source, n_tokens, ce, base_weight,
       -- div-safe: z sums strictly positive EG terms, > 0 (both ratios)
       ROUND(term / CAST(z.z AS DOUBLE), 6) AS new_weight,
       ROUND(term / CAST(z.z AS DOUBLE) - base_weight, 6) AS weight_delta
FROM terms, z
ORDER BY source
"""


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing table for training: per source, token count n_i, the
    temperature-scaled sampling probability p_i ∝ n_i^alpha (alpha = 0.5
    upweights small sources), and the effective epoch count at a fixed token
    budget (budget·p_i / n_i — how many times the source repeats). Token
    counts are exact BIGINTs; pow/divide are single double ops; the
    normalizing total is a 1-row broadcast cross-join."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per_source = (
        docs.select("source", F.size(tokens("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
        .withColumn("w", F.pow(F.col("n_tokens").cast("double"), _MIX_ALPHA))
    )
    totals = per_source.agg(
        F.sum("w").alias("w_total"), F.sum("n_tokens").alias("corpus_tokens")
    )
    # div-safe: w_total sums strictly positive temperature weights; the
    # epochs divide below has n_tokens >= 1 per listed source
    p = F.col("w") / F.col("w_total")
    budget = F.col("corpus_tokens").cast("double") * _MIX_BUDGET_FRACTION
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_tokens",
            F.round(p, 4).alias("sample_prob"),
            # div-safe: listed sources have n_tokens >= 1
            F.round(budget * p / F.col("n_tokens").cast("double"), 4).alias(
                "effective_epochs"
            ),
        )
        .orderBy("source")
    )


_MIX_SQL = f"""
WITH per_source AS (
  SELECT source,
         CAST(SUM(len({_DUCK_TOKENS.format(col='text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
weighted AS (
  SELECT source, n_tokens, POW(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}) AS w
  FROM per_source),
totals AS (
  SELECT SUM(w) AS w_total, SUM(n_tokens) AS corpus_tokens FROM weighted)
SELECT source, n_tokens,
       -- div-safe: w_total > 0 (positive weights); n_tokens >= 1
       ROUND(w / w_total, 4) AS sample_prob,
       ROUND(CAST(corpus_tokens AS DOUBLE) * {_MIX_BUDGET_FRACTION} * (w / w_total)
             / CAST(n_tokens AS DOUBLE), 4) AS effective_epochs
FROM weighted, totals
ORDER BY source
"""


# --------------------------------------------------------------------------
# 4. int8 embedding quantization + reconstruction-error report
# --------------------------------------------------------------------------

def embedding_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization of the embedding
    table — the storage form an ANN service actually serves — with a
    per-label reconstruction-error report. Pass 1 computes 64 (dim, lo, hi)
    rows (map-side combined); pass 2 re-quantizes each element against the
    broadcast ranges and aggregates error. ``max_abs_err`` is an exact
    order-insensitive double; the mean squared error is summed then rounded
    per the repo's double ruleset (reported ×10⁶ so rounding keeps
    signal)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    )
    ranges = elems.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    # div-safe: the q branch below divides by scale only under the
    # hi != lo CASE guard, where scale > 0
    scale = (F.col("hi") - F.col("lo")) / 255.0
    q = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        F.round((F.col("v") - F.col("lo")) / scale, 0)
    )
    deq = F.col("lo") + q * scale
    err = F.col("v") - deq
    return (
        elems.join(F.broadcast(ranges), "dim")
        .select("label", err.alias("err"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.round(F.max(F.abs(F.col("err"))), 6).alias("max_abs_err"),
            # err² quantized to fixed dp, summed as exact DECIMAL, divided
            # once — see embedding_int4_block_quant for the rationale.
            # div-safe: COUNT of a GROUP BY group is >= 1
            F.round(
                F.sum(
                    F.round(F.col("err") * F.col("err") * 1e6, 6)
                    .cast("decimal(38,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("mse_x1e6"),
        )
        .orderBy("label")
    )


_QUANT_SQL = """
WITH elems AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings),
ranges AS (
  SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM elems GROUP BY dim),
errs AS (
  SELECT label,
         v - (lo + CASE WHEN hi = lo THEN 0.0
                        -- div-safe: hi > lo on this CASE branch
                        ELSE ROUND((v - lo) / ((hi - lo) / 255.0), 0) END
                   * ((hi - lo) / 255.0)) AS err
  FROM elems JOIN ranges USING (dim))
SELECT label, COUNT(*) AS n_vals,
       ROUND(MAX(ABS(err)), 6) AS max_abs_err,
       -- err² quantized to fixed dp, summed as exact DECIMAL, divided once
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
       ROUND(CAST(SUM(CAST(ROUND(err * err * 1e6, 6) AS DECIMAL(38,6)))
                  AS DOUBLE) / COUNT(*), 2) AS mse_x1e6
FROM errs
GROUP BY label
ORDER BY label
"""


# --------------------------------------------------------------------------
# UniMax mixture budget allocation (r14): uniform-with-epoch-cap
# waterfilling over per-source token budgets (Chung et al. 2023,
# "UniMax: Fairer and More Effective Language Sampling") — the third
# mixing policy next to temperature sampling and DoReMi
# --------------------------------------------------------------------------

#: total training budget as a fraction of available corpus tokens
#: (numerator/denominator kept integer so the budget itself is exact).
_UNIMAX_BUDGET_NUM, _UNIMAX_BUDGET_DEN = 1, 2     # 50 % of the corpus
#: per-source epoch cap: no source repeats more than this many times.
#: With a sub-corpus budget the cap binds only on SMALL sources — exactly
#: the skew UniMax exists to correct.
_UNIMAX_EPOCH_CAP = 1


def unimax_budget_allocation(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """UNIMAX mixture allocation — uniform sampling with an epoch cap,
    solved by exact WATERFILLING: every source should get the same token
    budget, but no source may exceed ``{cap} × available`` tokens; capped
    sources return their surplus, raising everyone else's level. Sorted by
    cap ascending, the level is ``s_i = (B − Σ_{{j<i}} cap_j)/(n−i+1)``
    at the FIRST i whose cap reaches it (all prefix sums are exact
    integers; the one division per candidate level is a single IEEE op,
    identical cross-engine), and ``alloc_i = min(cap_i, level)``. Reported
    per source: available tokens, cap, the allocation, implied epochs, and
    whether the cap bound — the mixing table a data team signs off next
    to the temperature and DoReMi variants already in this module.

    Scale shape: ONE corpus scan for per-source token counts (two-phase),
    then pure window arithmetic on the 20-row source table (bounded input
    — the same model-table pattern as the other mixers)."""
    avail = (
        load_table(spark, sf_dir, "documents")
        .select("source", tokens("text").alias("t"))
        .groupBy("source")
        .agg(F.sum(F.size("t")).cast("long").alias("avail"))
    )
    caps = avail.select(
        "source",
        "avail",
        (F.col("avail") * _UNIMAX_EPOCH_CAP).alias("cap"),
    )
    n_b = caps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.floor(
                # div-safe: _UNIMAX_BUDGET_DEN is the literal constant 2
                F.sum("avail") * _UNIMAX_BUDGET_NUM / _UNIMAX_BUDGET_DEN
            )
        ).cast("long").alias("budget"),
    )
    w = Window.orderBy(F.col("cap").asc(), F.col("source").asc())
    ordered = caps.crossJoin(F.broadcast(n_b)).select(
        "source",
        "avail",
        "cap",
        "n",
        "budget",
        F.row_number().over(w).alias("i"),
        F.coalesce(
            F.sum("cap").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prefix_cap"),
    )
    # candidate level at i: budget minus fully-capped smaller sources,
    # split over the rest. div-safe: n - i + 1 >= 1 by construction
    s_i = (F.col("budget") - F.col("prefix_cap")) / (
        F.col("n") - F.col("i") + 1
    ).cast("double")
    with_level = ordered.select(
        "*",
        s_i.alias("s_i"),
        (F.col("cap").cast("double") >= s_i).cast("int").alias("uncapped"),
    )
    # the waterfilling level = s_i of the FIRST uncapped index (caps are
    # ascending, so every later source is uncapped too). The 1-row level
    # table always exists: with budget <= total caps the last source is
    # uncapped (s_n = B - Σ_{j<n} cap_j <= cap_n).
    i_star = with_level.agg(
        F.min(F.when(F.col("uncapped") == 1, F.col("i"))).alias("i_star")
    )
    lvl = (
        with_level.join(
            F.broadcast(i_star), F.col("i") == F.col("i_star")
        ).select(F.col("s_i").alias("level"))
    )
    level = with_level.crossJoin(F.broadcast(lvl))
    alloc = F.when(
        F.col("cap").cast("double") < F.col("level"),
        F.col("cap").cast("double"),
    ).otherwise(F.col("level"))
    return level.select(
        "source",
        F.col("avail").alias("avail_tokens"),
        F.col("cap").alias("cap_tokens"),
        F.round(alloc, 4).alias("alloc_tokens"),
        F.round(
            # div-safe: avail >= 1 (every source has documents with tokens)
            alloc / F.col("avail").cast("double"),
            4,
        ).alias("epochs"),
        (F.col("cap").cast("double") < F.col("level")).cast("int").alias(
            "capped"
        ),
    ).orderBy("source")


unimax_budget_allocation.__doc__ = unimax_budget_allocation.__doc__.format(
    cap=_UNIMAX_EPOCH_CAP
)

_UNIMAX_SQL = rf"""
WITH avail AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> ''))) AS BIGINT) AS avail
  FROM documents GROUP BY source
),
caps AS (
  SELECT source, avail, avail * {_UNIMAX_EPOCH_CAP} AS cap FROM avail
),
n_b AS (
  SELECT COUNT(*) AS n,
         CAST(floor(SUM(avail) * {_UNIMAX_BUDGET_NUM}
                    -- div-safe: literal denominator
                    / {_UNIMAX_BUDGET_DEN}) AS BIGINT) AS budget
  FROM caps
),
ordered AS (
  SELECT c.source, c.avail, c.cap, b.n, b.budget,
         ROW_NUMBER() OVER (ORDER BY c.cap ASC, c.source ASC) AS i,
         COALESCE(SUM(c.cap) OVER (
           ORDER BY c.cap ASC, c.source ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prefix_cap
  FROM caps c CROSS JOIN n_b b
),
with_level AS (
  SELECT *,
         -- div-safe: n - i + 1 >= 1 by construction
         (budget - prefix_cap) / CAST(n - i + 1 AS DOUBLE) AS s_i,
         CASE WHEN CAST(cap AS DOUBLE)
                   >= (budget - prefix_cap) / CAST(n - i + 1 AS DOUBLE)
              THEN 1 ELSE 0 END AS uncapped
  FROM ordered
),
lvl AS (
  SELECT MIN(CASE WHEN uncapped = 1 THEN i END) AS i_star FROM with_level
),
level AS (
  SELECT w.*, s.s_i AS level
  FROM with_level w
  LEFT JOIN lvl ON TRUE
  LEFT JOIN with_level s ON s.i = lvl.i_star
)
SELECT source,
       avail AS avail_tokens,
       cap AS cap_tokens,
       ROUND(CASE WHEN level IS NULL OR CAST(cap AS DOUBLE) < level
                  THEN CAST(cap AS DOUBLE) ELSE level END, 4)
         AS alloc_tokens,
       -- div-safe: avail >= 1 (every source has tokenful documents)
       ROUND(CASE WHEN level IS NULL OR CAST(cap AS DOUBLE) < level
                  THEN CAST(cap AS DOUBLE) ELSE level END
             / CAST(avail AS DOUBLE), 4) AS epochs,
       CAST(CASE WHEN CAST(cap AS DOUBLE) < level THEN 1 ELSE 0 END
            AS INTEGER) AS capped
FROM level
ORDER BY source
"""


# --------------------------------------------------------------------------
# int4 BLOCKWISE absmax quantization census (r14): the 4-bit storage form
# modern embedding/weight stores actually use (bitsandbytes-style blockwise
# absmax, Dettmers et al.) — per-vector 8-dim blocks, symmetric levels
# −7..7, one scale per block
# --------------------------------------------------------------------------

#: dims per quantization block (64-dim vectors → 8 blocks per vector).
_INT4_BLOCK = 8
#: symmetric int4 code range: q ∈ [−7, 7] (the −8 code is unused, as in
#: symmetric absmax schemes).
_INT4_LEVELS = 7


def embedding_int4_block_quant(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """BLOCKWISE int4 absmax quantization census — the 4-bit layout
    embedding caches and quantized checkpoints actually store (one absmax
    scale per {blk}-dim block inside each vector, symmetric codes −{lv}..
    {lv}): quantize every element as ``q = floor(v/absmax·{lv} + 0.5)``
    (floor-plus-half, the repo's engine-neutral rounding — never an engine
    ROUND on a half-boundary), dequantize, and report per label the exact
    integer code-magnitude sum and saturation count (|q| = {lv}) plus the
    reconstruction error profile. Versus the per-dimension int8 report
    (:func:`embedding_quantization_report`): 2× smaller codes, scales that
    adapt per vector-block instead of per corpus-dimension — the tradeoff
    this census quantifies.

    Scale shape: posexplode → per (vec, block) absmax (two-phase, keys are
    (vec_id, block) — no broadcast table needed since the scale is LOCAL
    to the vector), self-join back on the block key, per-label rollup. At
    100 TB the block-absmax join is co-partitioned with the element table
    by vec_id — no skew, no global state."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    ).withColumn("blk", (F.col("dim") / _INT4_BLOCK).cast("int"))
    scales = elems.groupBy("vec_id", "blk").agg(
        F.max(F.abs(F.col("v"))).alias("absmax")
    )
    j = elems.join(scales, ["vec_id", "blk"])
    q = F.when(F.col("absmax") == 0.0, F.lit(0.0)).otherwise(
        F.floor(
            # div-safe: absmax > 0 on this CASE branch
            F.col("v") / F.col("absmax") * _INT4_LEVELS + F.lit(0.5)
        )
    )
    deq = F.when(F.col("absmax") == 0.0, F.lit(0.0)).otherwise(
        # div-safe: literal levels denominator
        q * F.col("absmax") / F.lit(float(_INT4_LEVELS))
    )
    err = F.col("v") - deq
    return (
        j.select(
            "label",
            q.cast("long").alias("q"),
            err.alias("err"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.sum(F.abs(F.col("q"))).alias("code_abs_sum"),
            F.sum(
                (F.abs(F.col("q")) == _INT4_LEVELS).cast("long")
            ).alias("n_saturated"),
            F.round(F.max(F.abs(F.col("err"))), 6).alias("max_abs_err"),
            # err² quantized to fixed dp and summed as DECIMAL (exact,
            # add-order-independent), THEN divided once: AVG over raw
            # doubles is add-order-dependent between engines.
            # div-safe: COUNT of a GROUP BY group is >= 1
            F.round(
                F.sum(
                    F.round(F.col("err") * F.col("err") * 1e6, 6)
                    .cast("decimal(38,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("mse_x1e6"),
        )
        .orderBy("label")
    )


embedding_int4_block_quant.__doc__ = embedding_int4_block_quant.__doc__.format(
    blk=_INT4_BLOCK, lv=_INT4_LEVELS
)

_INT4_SQL = f"""
WITH elems AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
),
blocks AS (
  SELECT vec_id, label, dim // {_INT4_BLOCK} AS blk, v FROM elems
),
scales AS (
  SELECT vec_id, blk, MAX(ABS(v)) AS absmax
  FROM blocks GROUP BY vec_id, blk
),
codes AS (
  SELECT b.label,
         CASE WHEN s.absmax = 0 THEN 0
              -- div-safe: absmax > 0 on this CASE branch
              ELSE CAST(floor(b.v / s.absmax * {_INT4_LEVELS} + 0.5)
                        AS BIGINT)
         END AS q,
         b.v - CASE WHEN s.absmax = 0 THEN 0.0
                    -- div-safe: absmax > 0; literal levels denominator
                    ELSE floor(b.v / s.absmax * {_INT4_LEVELS} + 0.5)
                         * s.absmax / {float(_INT4_LEVELS)!r}
               END AS err
  FROM blocks b JOIN scales s ON s.vec_id = b.vec_id AND s.blk = b.blk
)
SELECT label,
       COUNT(*) AS n_vals,
       CAST(SUM(ABS(q)) AS BIGINT) AS code_abs_sum,
       CAST(count_if(ABS(q) = {_INT4_LEVELS}) AS BIGINT) AS n_saturated,
       ROUND(MAX(ABS(err)), 6) AS max_abs_err,
       -- err² quantized to fixed dp, summed as exact DECIMAL, divided once
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
       ROUND(CAST(SUM(CAST(ROUND(err * err * 1e6, 6) AS DECIMAL(38,6)))
                  AS DOUBLE) / COUNT(*), 2) AS mse_x1e6
FROM codes
GROUP BY label
ORDER BY label
"""


# --------------------------------------------------------------------------
# 5. Repeated-n-gram coverage (exact-substring dedup signal)
# --------------------------------------------------------------------------

#: n-gram width for the repeated-substring signal (Lee et al. use 50-token
#: spans over BPE ids; 8 word-grams is the same machinery at this corpus's
#: doc length).
_REP_N = 8


def repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal: per doc, the fraction of token
    positions covered by an 8-gram that occurs in MORE THAN ONE document —
    the quantity substring-dedup pipelines threshold on to cut boilerplate
    and cross-doc copies. Runs over the planted-dup corpus so coverage
    actually separates (copies ≈ 1.0, untouched docs ≈ 0).

    Scale shape: gram table (explode) → distinct-doc count per gram hash
    (uniform 60-bit key, map-side combined) → the ≥2-doc gram list, which is
    bounded by DUPLICATION volume, not corpus size → join back and expand
    each hit to its 8 covered positions → per-doc distinct-position count.
    Every join is an equi-join on the gram hash; nothing is quadratic."""
    from datafusion_impl_spark.operators.dedup import near_dup_corpus

    corpus = near_dup_corpus(spark, sf_dir)
    toks = corpus.select("doc_id", "lang", tokens("text").alias("t")).filter(
        F.size("t") >= _REP_N
    )
    tcol = F.col("t")
    gram = F.concat_ws(
        " ", *[F.element_at(tcol, F.col("pos") + i) for i in range(_REP_N)]
    )
    grams = toks.select(
        "doc_id",
        "lang",
        F.size("t").alias("n_tok"),
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - (_REP_N - 1))).alias("pos"),
    ).select("doc_id", "lang", "n_tok", "pos", md5_long(gram).alias("gh"))
    rep = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gh")
    )
    covered = (
        grams.join(rep, "gh")
        .select("doc_id", F.explode(F.sequence("pos", F.col("pos") + _REP_N - 1)).alias("cp"))
        .groupBy("doc_id")
        .agg(F.countDistinct("cp").alias("n_covered"))
    )
    per_doc = toks.select("doc_id", "lang", F.size("t").alias("n_tok")).join(
        covered, "doc_id", "left"
    )
    # NULLIF guard (r9 div sweep): an empty document has n_tok = 0 — pin
    # its coverage to NULL in both engines instead of NULL-vs-NaN
    cov = F.coalesce("n_covered", F.lit(0)) / F.nullif(
        F.col("n_tok").cast("double"), F.lit(0.0)
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(cov), 4).alias("avg_coverage"),
            F.sum((cov > 0.5).cast("long")).alias("n_heavily_covered"),
        )
        .orderBy("lang")
    )


_REP_COVERAGE_SQL = rf"""
WITH corpus AS ({{corpus_sql}}),
toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
  FROM corpus),
base AS (SELECT doc_id, lang, t, len(t) AS n_tok FROM toks WHERE len(t) >= {_REP_N}),
grams AS (
  SELECT doc_id, lang, n_tok,
         generate_subscripts(gh_list, 1) AS pos, unnest(gh_list) AS gh
  FROM (
    SELECT doc_id, lang, n_tok,
           list_transform(generate_series(1, n_tok - {_REP_N - 1}),
             i -> {duck_md5_long(f"array_to_string(list_slice(t, i, i + {_REP_N - 1}), ' ')")}) AS gh_list
    FROM base) g),
rep AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
covered AS (
  SELECT doc_id, COUNT(DISTINCT cp) AS n_covered
  FROM (
    SELECT doc_id, unnest(generate_series(pos, pos + {_REP_N - 1})) AS cp
    FROM grams JOIN rep USING (gh)) c
  GROUP BY doc_id),
per_doc AS (
  -- NULLIF mirrors the Spark side's empty-document guard
  SELECT b.lang,
         COALESCE(c.n_covered, 0) / NULLIF(CAST(b.n_tok AS DOUBLE), 0) AS cov
  FROM base b LEFT JOIN covered c USING (doc_id))
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(cov), 4) AS avg_coverage,
       CAST(SUM(CASE WHEN cov > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_heavily_covered
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# 6. Cross-source overlap matrix (domain contamination)
# --------------------------------------------------------------------------

#: a gram present in more than this many sources is dropped before the
#: pair join — boilerplate carries no containment signal and an uncapped
#: k-source gram fans out into k(k-1)/2 pairs. Same discipline as the
#: decontamination operator's DF cap; the dropped-gram count is REPORTED
#: per pair via the rare-universe sizes, never silently.
_OVERLAP_MAX_SOURCES = 10


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise rare-8-gram Jaccard between sources — the "is domain A just
    a mirror of domain B" check a corpus audit runs before fixing mixture
    weights. Distinct (source, gram-hash) table → source-DF cap → self-join
    on the gram hash (fan-out bounded by the cap) → per-pair shared count
    joined to per-source rare-universe sizes. Everything is an equi-join on
    the uniform 60-bit hash."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select("source", tokens("text").alias("t")).filter(
        F.size("t") >= _REP_N
    )
    tcol = F.col("t")
    gram = F.concat_ws(
        " ", *[F.element_at(tcol, F.col("pos") + i) for i in range(_REP_N)]
    )
    grams = (
        toks.select(
            "source",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - (_REP_N - 1))).alias("pos"),
        )
        .select("source", md5_long(gram).alias("gh"))
        .distinct()
    )
    rare = (
        grams.groupBy("gh")
        .agg(F.countDistinct("source").alias("df"))
        .filter(F.col("df") <= _OVERLAP_MAX_SOURCES)
        .select("gh")
    )
    rg = grams.join(rare, "gh")
    sizes = rg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = rg.select(F.col("source").alias("src_a"), "gh")
    b = rg.select(F.col("source").alias("src_b"), "gh")
    shared = (
        a.join(b, "gh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            # div-safe: union size >= max(n_a, n_b) >= 1 (sources
            # listed only with non-empty vocabularies)
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "src_a", "src_b")
    )


_OVERLAP_SQL = rf"""
WITH toks AS (
  SELECT source, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
  FROM documents),
grams AS (
  SELECT DISTINCT source, gh FROM (
    SELECT source,
           unnest(list_transform(generate_series(1, len(t) - {_REP_N - 1}),
             i -> {duck_md5_long(f"array_to_string(list_slice(t, i, i + {_REP_N - 1}), ' ')")})) AS gh
    FROM toks WHERE len(t) >= {_REP_N}) g),
rare AS (
  SELECT gh FROM grams GROUP BY gh
  HAVING COUNT(DISTINCT source) <= {_OVERLAP_MAX_SOURCES}),
rg AS (SELECT source, gh FROM grams JOIN rare USING (gh)),
sizes AS (SELECT source, COUNT(*) AS n FROM rg GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM rg a JOIN rg b ON a.gh = b.gh AND a.source < b.source
  GROUP BY src_a, src_b)
SELECT src_a, src_b, n_shared,
       -- div-safe: union size >= max(na.n, nb.n) >= 1
       ROUND(CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared), 4) AS jaccard
FROM shared
JOIN sizes na ON na.source = src_a
JOIN sizes nb ON nb.source = src_b
ORDER BY jaccard DESC, src_a, src_b
"""


def corpus_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between the document corpus and its
    embedding table: how many docs have an embedding, how many are missing
    one (un-embedded backlog), and how many embeddings are orphans (their
    doc was deleted/filtered upstream) — the join-coverage gate a pipeline
    runs before any embedding-dependent stage, per source plus a TOTAL row.

    One full-outer equi-join on the id key carrying only ids + the source
    label, then a rollup — no text or vectors move."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = docs.join(emb, docs.doc_id == emb.vec_id, "full_outer")
    return (
        j.groupBy(F.coalesce("source", F.lit("(orphan)")).alias("source"))
        .agg(
            F.count("doc_id").alias("n_docs"),
            F.count(
                F.when(F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1)
            ).alias("n_embedded"),
            F.count(
                F.when(F.col("doc_id").isNotNull() & F.col("vec_id").isNull(), 1)
            ).alias("n_missing"),
            F.count(
                F.when(F.col("doc_id").isNull() & F.col("vec_id").isNotNull(), 1)
            ).alias("n_orphans"),
        )
        .orderBy("source")
    )


_COVERAGE_SQL = """
SELECT COALESCE(source, '(orphan)') AS source,
       COUNT(d.doc_id) AS n_docs,
       CAST(SUM(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_embedded,
       CAST(SUM(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       CAST(SUM(CASE WHEN d.doc_id IS NULL AND e.vec_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY COALESCE(source, '(orphan)')
ORDER BY source
"""


#: snapshot-diff simulation knobs: A drops doc_id % 20 == 5, B drops
#: doc_id % 20 == 0, and B revises the text of doc_id % 7 == 3.
_SNAP_REV_SUFFIX = " [rev2]"


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the audit run between two corpus
    releases: which docs were added, removed, changed (same id, different
    content), or untouched, per source. Two deterministic snapshots are
    derived from the base corpus (A drops 5% of ids, B drops a different 5%
    and revises every 7th doc's text), hashed to a narrow (id, md5) frame,
    and FULL-OUTER-joined on doc_id.

    Scale shape: the join carries 2 narrow columns per side — the md5
    stands in for the text so document bodies never shuffle (the same
    payload-stays-put discipline as the exact-dedup family); one shuffle on
    doc_id, then a tiny (source × status) aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    snap_a = docs.filter(F.col("doc_id") % 20 != 5)
    snap_b = docs.filter(F.col("doc_id") % 20 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.col("text"), F.lit(_SNAP_REV_SUFFIX)),
        ).otherwise(F.col("text")),
    )
    a = snap_a.select("doc_id", "source", F.md5("text").alias("ha"))
    b = snap_b.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("source").alias("b_source"),
        F.md5("text").alias("hb"),
    )
    joined = a.join(b, a.doc_id == b.b_doc_id, "full_outer").select(
        F.coalesce("source", "b_source").alias("source"),
        F.when(F.col("ha").isNull(), "added")
        .when(F.col("hb").isNull(), "removed")
        .when(F.col("ha") != F.col("hb"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("doc_id", "b_doc_id").alias("id"),
    )
    return (
        joined.groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("id").cast("long").alias("sum_doc_id"),
        )
        .orderBy("source", "status")
    )


_SNAP_DIFF_SQL = f"""
WITH snap_a AS (
  SELECT doc_id, source, md5(text) AS ha FROM documents WHERE doc_id % 20 <> 5
),
snap_b AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 7 = 3 THEN text || '{_SNAP_REV_SUFFIX}'
                  ELSE text END) AS hb
  FROM documents WHERE doc_id % 20 <> 0
),
joined AS (
  SELECT COALESCE(a.source, b.source) AS source,
         CASE WHEN a.ha IS NULL THEN 'added'
              WHEN b.hb IS NULL THEN 'removed'
              WHEN a.ha <> b.hb THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(a.doc_id, b.doc_id) AS id
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
)
SELECT source, status, COUNT(*) AS n_docs,
       CAST(SUM(id) AS BIGINT) AS sum_doc_id
FROM joined
GROUP BY source, status
ORDER BY source, status
"""


def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (fuzzy record linkage) — the capability that exact
    and MinHash dedup both miss: a 'dirty' registry of customer records
    with CHARACTER-LEVEL errors (planted deterministically: a third get
    their last two digits transposed, a third a substituted final digit, a
    third arrive unchanged) is matched back to the master by
    blocking + edit-distance verify + best-match survivorship.

    Two design points carried by the construction:

    - the BLOCKING KEY must be invariant under the expected error modes or
      true matches never meet: errors here corrupt the ``Customer#`` stem,
      so blocking on ``numeric_id div 100`` is error-invariant AND bounded
      (≤100 master keys per block) — candidate generation is an equi-join
      on the block with per-block quadratic cost capped at block_size²,
      the linkage-at-scale contract;
    - errors must land OUTSIDE the identity-bearing region or matching is
      ill-posed: an early draft transposed the trailing DIGITS, which
      turns one customer's name into ANOTHER customer's exact name — the
      nearest master is then confidently wrong. Stem errors keep the
      nearest master unique, so ``n_correct_identity`` doubles as the
      well-posedness audit (must equal n_records per distance).

    Verify is ``levenshtein ≤ 2`` (transposition costs 2 in classic edit
    distance); survivorship keeps each dirty record's minimum-distance
    master (tiebreak on key). Output: match population per edit distance +
    the unmatched remainder (0 with error-invariant blocking)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    digits = F.regexp_replace("c_name", r"\D", "")
    master = cust.select(
        F.col("c_custkey").alias("m_key"),
        F.col("c_name").alias("m_name"),
        (digits.cast("long") / 100).cast("long").alias("block"),
    )
    # mutations confined to the 'Customer#' stem (chars 8-9): transpose
    # 'r#' -> '#r' (distance 2) or substitute '#' -> '@' (distance 1)
    dirty_name = (
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.substring("c_name", 1, 7),
                F.substring("c_name", 9, 1),
                F.substring("c_name", 8, 1),
                F.expr("substring(c_name, 10)"),
            ),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(
                F.substring("c_name", 1, 8),
                F.lit("@"),
                F.expr("substring(c_name, 10)"),
            ),
        )
        .otherwise(F.col("c_name"))
    )
    dirty = cust.select(
        F.col("c_custkey").alias("d_key"), dirty_name.alias("d_name")
    ).withColumn(
        "block",
        (F.regexp_replace("d_name", r"\D", "").cast("long") / 100).cast("long"),
    )
    # thresholded levenshtein (Spark 3.5+): the banded DP early-exits once
    # the distance provably exceeds 2 and returns -1, so each of the
    # block_size² candidate pairs costs O(k·n) instead of O(n·m) cells.
    # Kept pairs get the exact distance (0/1/2), so `dist >= 0` admits
    # exactly the rows the unthresholded `dist <= 2` filter admitted.
    pairs = (
        dirty.join(master, "block")
        .withColumn("dist", F.levenshtein("d_name", "m_name", 2))
        .filter(F.col("dist") >= 0)
    )
    # struct-min argmin (same (dist, m_key) winner as the rank-1 window it
    # replaces; aggregates map-side instead of exchanging + sorting pairs)
    best = pairs.groupBy("d_key").agg(
        F.min(F.struct("dist", "m_key")).alias("mn")
    )
    n_dirty = dirty.count()
    matched = best.groupBy(F.col("mn.dist").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_if(F.col("d_key") == F.col("mn.m_key")).alias(
            "n_correct_identity"
        ),
    )
    return (
        matched.withColumn(
            "n_unmatched_total", F.lit(n_dirty) - F.sum("n_records").over(Window.partitionBy())
        )
        .select("dist", "n_records", "n_correct_identity", "n_unmatched_total")
        .orderBy("dist")
    )


_ENTITY_RES_SQL = r"""
WITH master AS (
  SELECT c_custkey AS m_key, c_name AS m_name,
         CAST(CAST(regexp_replace(c_name, '\D', '', 'g') AS BIGINT) / 100 AS BIGINT) AS block
  FROM customer
),
dirty0 AS (
  SELECT c_custkey AS d_key,
         CASE
           WHEN c_custkey % 3 = 0 THEN
             substring(c_name, 1, 7) || substring(c_name, 9, 1)
             || substring(c_name, 8, 1) || substring(c_name, 10)
           WHEN c_custkey % 3 = 1 THEN
             substring(c_name, 1, 8) || '@' || substring(c_name, 10)
           ELSE c_name
         END AS d_name
  FROM customer
),
dirty AS (
  SELECT d_key, d_name,
         CAST(CAST(regexp_replace(d_name, '\D', '', 'g') AS BIGINT) / 100 AS BIGINT) AS block
  FROM dirty0
),
pairs AS (
  SELECT d.d_key, m.m_key, levenshtein(d.d_name, m.m_name) AS dist
  FROM dirty d JOIN master m USING (block)
  WHERE levenshtein(d.d_name, m.m_name) <= 2
),
best AS (
  SELECT d_key, m_key, dist,
         ROW_NUMBER() OVER (PARTITION BY d_key ORDER BY dist, m_key) AS rn
  FROM pairs
),
matched AS (
  SELECT dist, COUNT(*) AS n_records,
         count_if(d_key = m_key) AS n_correct_identity
  FROM best WHERE rn = 1
  GROUP BY dist
)
SELECT CAST(dist AS INTEGER) AS dist, n_records,
       CAST(n_correct_identity AS BIGINT) AS n_correct_identity,
       CAST((SELECT COUNT(*) FROM dirty) - SUM(n_records) OVER ()
            AS BIGINT) AS n_unmatched_total
FROM matched
ORDER BY dist
"""


def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve: ingest documents in doc_id order, attribute
    each distinct shingle to the FIRST document carrying it, and report per
    ingest-decile how much genuinely new content arrives — the
    diminishing-returns audit behind "is scraping more of this source still
    worth it". Rates are ratios of exact integer sums (novel/total shingles
    per decile), so no float accumulation order can diverge across engines.

    Scale shape: one shingle explode + distinct, one min-aggregate keyed by
    shingle (the first-occurrence index), one join back, and windows only
    over the per-doc aggregate (bounded)."""
    from datafusion_impl_spark.operators.dedup import _shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _shingles(docs)
    # the shingle table feeds the first-occurrence index AND the join probe
    sh = materialize(sh)
    fo = sh.groupBy("shingle").agg(F.min("doc_id").alias("fo"))
    per_doc = (
        sh.join(fo, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count_if(F.col("fo") == F.col("doc_id")).alias("n_novel"),
        )
    )
    deciled = per_doc.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("doc_id"))
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            # div-safe: n_sh >= 1 per doc (docs appear only with shingles)
            F.round(F.sum("n_novel") / F.sum("n_sh"), 6).alias("novelty_rate"),
        )
        .orderBy("decile")
    )


_NOVELTY_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingle
  FROM toks
  WHERE len(tk) >= 3
),
fo AS (SELECT shingle, MIN(doc_id) AS fo FROM sh GROUP BY shingle),
per_doc AS (
  SELECT sh.doc_id, COUNT(*) AS n_sh,
         SUM(CASE WHEN fo.fo = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM sh JOIN fo USING (shingle)
  GROUP BY sh.doc_id
),
deciled AS (
  SELECT *, NTILE(10) OVER (ORDER BY doc_id) AS decile FROM per_doc
)
SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_docs,
       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(n_novel) AS BIGINT) AS n_novel,
       -- div-safe: n_sh >= 1 per doc (docs appear only with shingles)
       ROUND(SUM(n_novel) / CAST(SUM(n_sh) AS DOUBLE), 6) AS novelty_rate
FROM deciled
GROUP BY decile
ORDER BY decile
"""


#: license-detection policy, highest priority first: (marker token,
#: license, allowed). Markers are drawn from the synthetic corpus's fake
#: vocabulary so every branch actually fires (same caveat as the
#: language-ID heuristic — the MECHANISM is the deliverable: priority
#: matching + policy join + keep/drop accounting; swap real SPDX markers
#: in production).
_LICENSE_POLICY = (
    ("copyright", "proprietary", False),
    ("merge", "cc-by-sa", True),
    ("batch", "apache-2.0", True),
    ("window", "mit", True),
)


def license_policy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License compliance gate — the filter every training-corpus pipeline
    runs before anything else: detect a document's license from marker
    terms (FIRST match in a fixed priority order wins, mirroring how SPDX
    headers shadow boilerplate mentions), join the policy verdict, and
    report the keep/drop census per license. Unmatched docs land in
    ``unknown``/quarantined — the safe default.

    One scan, one aggregate: detection is a token-membership CASE chain
    over the tokenized text (no regex backtracking, no Python), so at
    100 TB this is a map + single groupBy shuffle with full column
    pruning."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = tokens("text")
    lic = F.lit("unknown")
    allowed = F.lit(False)
    for marker, license_, ok in reversed(_LICENSE_POLICY):
        hit = F.array_contains(tk, marker)
        lic = F.when(hit, F.lit(license_)).otherwise(lic)
        allowed = F.when(hit, F.lit(ok)).otherwise(allowed)
    tot = Window.partitionBy()
    return (
        docs.select(lic.alias("license"), allowed.alias("allowed"))
        .groupBy("license", "allowed")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "doc_share",
            # div-safe: the global SUM over group counts is >= 1
            F.round(F.col("n_docs") / F.sum("n_docs").over(tot), 6),
        )
        .orderBy("license")
    )


def _license_gate_oracle() -> str:
    toks = _DUCK_TOKENS.format(col="text")
    lic = "'unknown'"
    allowed = "FALSE"
    for marker, license_, ok in reversed(_LICENSE_POLICY):
        lic = f"CASE WHEN list_contains(tk, '{marker}') THEN '{license_}' ELSE {lic} END"
        allowed = (
            f"CASE WHEN list_contains(tk, '{marker}') THEN {str(ok).upper()} "
            f"ELSE {allowed} END"
        )
    return f"""
WITH toks AS (SELECT {toks} AS tk FROM documents),
gated AS (SELECT {lic} AS license, {allowed} AS allowed FROM toks)
SELECT license, allowed, COUNT(*) AS n_docs,
       -- div-safe: the global SUM over group counts is >= 1
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS doc_share
FROM gated
GROUP BY license, allowed
ORDER BY license
"""


_LICENSE_GATE_SQL = _license_gate_oracle()


# --------------------------------------------------------------------------
# DSIR-style data selection: hashed-n-gram importance resampling
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 64     # hashed feature space (unigrams + bigrams)
_DSIR_K = 100          # examples selected by Gumbel top-k
_DSIR_U_MOD = 1000003  # hash-ring modulus for the deterministic uniform


def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023), the
    published recipe for steering a raw crawl toward a target domain:
    hash every token unigram and bigram into {B} buckets, fit two
    add-one-smoothed bucket multinomials — the TARGET (here lang='en'
    documents) and the RAW pool (all documents) — score every document by
    its importance log-weight ``Σ_b c_doc(b)·(ln p_t(b) − ln p_r(b))``,
    and draw {K} documents WITHOUT replacement ∝ their weights via
    deterministic Gumbel top-k (the uniform comes from the md5 hash ring,
    so the sample is reproducible and the DuckDB oracle replays the exact
    selection). Output: the selected sample's language census with mean
    log-weights — the dashboard that shows the resample actually steering
    toward the target.

    Scale shape: one tokenize/hash pass, a {B}-row bucket-distribution
    aggregate (broadcast back), one per-doc weight aggregate, and a
    global top-{K} (TakeOrdered — never a full sort); nothing shuffles
    more than (doc, bucket) pairs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    toks = docs.select("doc_id", "lang", tokens("text").alias("t"))
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("t"),
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN transform("
                    "sequence(1, size(t) - 1), "
                    "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                    " ELSE array() END"
                ),
            )
        ).alias("feature"),
    ).withColumn("b", md5_long(F.col("feature")) % _DSIR_BUCKETS)

    bstats = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
    )
    totals = bstats.agg(
        F.sum("n_all").alias("t_all"), F.sum("n_en").alias("t_en")
    )
    delta = bstats.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            # div-safe: add-one smoothing keeps every ratio positive and
            # the totals-plus-B denominators strictly positive
            F.log(
                (F.col("n_en") + 1) / (F.col("t_en") + _DSIR_BUCKETS)
            )
            - F.log(
                # div-safe: totals-plus-B denominator strictly positive
                (F.col("n_all") + 1) / (F.col("t_all") + _DSIR_BUCKETS)
            ),
            9,
        ).alias("delta"),
    )
    logw = (
        feats.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(F.broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("delta")), 6).alias("logw"))
    )
    # deterministic Gumbel: u from the md5 ring, strictly inside (0, 1)
    u = (
        md5_long(F.concat(F.lit("dsir-"), F.col("doc_id").cast("string")))
        % _DSIR_U_MOD
        + 1
    ) / F.lit(float(_DSIR_U_MOD + 2))
    scored = (
        docs.select("doc_id", "lang")
        .join(logw, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
            # div-safe: u is strictly inside (0,1), so -ln(u) > 0
            F.round(-F.log(-F.log(u)), 6).alias("gumbel"),
        )
        .withColumn(
            "key", F.round(F.col("logw") + F.col("gumbel"), 6)
        )
    )
    sel = scored.orderBy(F.desc("key"), F.asc("doc_id")).limit(_DSIR_K)
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.round(F.avg("logw"), 4).alias("mean_logw"),
            # div-safe: the sample budget K is a positive constant
            F.round(F.count(F.lit(1)) / F.lit(float(_DSIR_K)), 4).alias(
                "share"
            ),
        )
        .orderBy("lang")
    )


_DSIR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, lang, {_DUCK_TOKENS.format(col='text')} AS t FROM documents
),
feats AS (
  SELECT doc_id, lang,
         {duck_md5_long('feature')} % {_DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_concat(t,
             list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1]))) AS feature
    FROM toks)
),
bstats AS (
  SELECT b, COUNT(*) AS n_all,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
  FROM feats GROUP BY b
),
totals AS (SELECT SUM(n_all) AS t_all, SUM(n_en) AS t_en FROM bstats),
delta AS (
  SELECT b,
         -- div-safe: add-one smoothing keeps every ratio positive and the
         -- totals-plus-B denominators strictly positive
         ROUND(ln((n_en + 1) / CAST(t_en + {_DSIR_BUCKETS} AS DOUBLE))
               - ln((n_all + 1) / CAST(t_all + {_DSIR_BUCKETS} AS DOUBLE)),
               9) AS delta
  FROM bstats CROSS JOIN totals
),
logw AS (
  SELECT doc_id, ROUND(SUM(c * delta), 6) AS logw FROM (
    SELECT doc_id, b, COUNT(*) AS c FROM feats GROUP BY doc_id, b) dbc
  JOIN delta USING (b)
  GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.lang, COALESCE(l.logw, 0.0) AS logw,
         -- div-safe: u is strictly inside (0,1), so -ln(u) > 0
         ROUND(-ln(-ln((({duck_md5_long("'dsir-' || CAST(d.doc_id AS VARCHAR)")})
                        % {_DSIR_U_MOD} + 1)
                       / {float(_DSIR_U_MOD + 2)!r})), 6) AS gumbel
  FROM documents d LEFT JOIN logw l ON l.doc_id = d.doc_id
),
sel AS (
  SELECT doc_id, lang, logw,
         ROUND(logw + gumbel, 6) AS skey
  FROM scored
  ORDER BY skey DESC, doc_id
  LIMIT {_DSIR_K}
)
SELECT lang, COUNT(*) AS n_selected,
       ROUND(AVG(logw), 4) AS mean_logw,
       -- div-safe: the sample budget K is a positive constant
       ROUND(COUNT(*) / {float(_DSIR_K)!r}, 4) AS share
FROM sel
GROUP BY lang
ORDER BY lang
"""


QUERIES = {
    "mixture_reweight_step": mixture_reweight_step,
    "dsir_importance_resample": dsir_importance_resample,
    "license_policy_gate": license_policy_gate,
    "corpus_novelty_curve": corpus_novelty_curve,
    "dedup_paragraphs_global": dedup_paragraphs_global,
    "dedup_documents_url": dedup_documents_url,
    "source_mixture_weights": source_mixture_weights,
    "embedding_quantization_report": embedding_quantization_report,
    "embedding_int4_block_quant": embedding_int4_block_quant,
    "unimax_budget_allocation": unimax_budget_allocation,
    "repeated_ngram_coverage": repeated_ngram_coverage,
    "source_overlap_matrix": source_overlap_matrix,
    "corpus_embedding_coverage": corpus_embedding_coverage,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "entity_resolution_customers": entity_resolution_customers,
}


def _rep_coverage_oracle() -> str:
    from datafusion_impl_spark.operators.dedup import _CORPUS_SQL

    return _REP_COVERAGE_SQL.format(corpus_sql=_CORPUS_SQL)


ORACLES = {
    "mixture_reweight_step": _DOREMI_SQL,
    "dsir_importance_resample": _DSIR_SQL,
    "license_policy_gate": _LICENSE_GATE_SQL,
    "corpus_novelty_curve": _NOVELTY_SQL,
    "dedup_paragraphs_global": _PARA_SQL,
    "dedup_documents_url": _URL_SQL,
    "source_mixture_weights": _MIX_SQL,
    "embedding_quantization_report": _QUANT_SQL,
    "embedding_int4_block_quant": _INT4_SQL,
    "unimax_budget_allocation": _UNIMAX_SQL,
    "repeated_ngram_coverage": _rep_coverage_oracle(),
    "source_overlap_matrix": _OVERLAP_SQL,
    "corpus_embedding_coverage": _COVERAGE_SQL,
    "corpus_snapshot_diff": _SNAP_DIFF_SQL,
    "entity_resolution_customers": _ENTITY_RES_SQL,
}
