"""Deduplication operators over ``documents`` — exact, MinHash-LSH, and
SimHash. The core of a pre-training data pipeline.

Every sketch here derives from the portable md5-based 60-bit hash
(:func:`datafusion_impl_spark.operators.md5_long`), so each operator has a
full DuckDB oracle — including MinHash-LSH, which is usually only
rows-checked. Nothing computes an all-pairs product: candidate generation is
always an equi-join on a bucket key (band signature / simhash band), which
shuffles on the bucket key and scales linearly with data + candidate volume.

The driver's synthetic corpus has zero duplicate texts, so the queries run
over :func:`near_dup_corpus` — the corpus plus exact copies of every 10th
doc and near-copies (leading word dropped) of every 7th — giving the
operators real positives to find while staying fully deterministic and
mirrored in the oracle SQL.

100 TB posture notes:
- exact dedup: hash-groupBy, one shuffle on a 128-bit content hash; skew-free
  by construction (hash keys are uniform).
- MinHash-LSH: shingle explode → per-(doc, seed) min-agg → band signature →
  equi-join on (band, signature). The only quadratic step is *within* a
  bucket; band width (R=3 of NUM_HASHES=12) bounds bucket collision
  probability, and the exact-Jaccard verify only touches emitted candidates.
- SimHash: 32-bit fingerprint per doc (one explode over tokens × 32 bit
  positions), candidates via 8-bit band equality, verified by Hamming
  distance — constant state per doc, no quadratic step outside buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import (
    _map_rows,
    bounded_iteration,
    duck_md5_long,
    materialize,
    md5_long,
)
from datafusion_impl_spark.operators.text import _DUCK_TOKENS, tokens
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES", "near_dup_corpus"]

# MinHash parameters: 12 hashes in 4 bands of 3 → candidate-pair probability
# ~ 1-(1-j^3)^4, steep around Jaccard ≈ 0.5.
_NUM_HASHES = 12
_BANDS = 4
_R = _NUM_HASHES // _BANDS
_JACCARD_T = 0.5

# SimHash parameters: 32-bit fingerprint, four 8-bit bands, Hamming radius 2.
# Pigeonhole: a pair within Hamming distance 3 (< number of bands) must agree
# on at least one full band, so candidate generation has EXACT recall at the
# radius-2 threshold — the banded join is a pure optimization, not a
# recall trade-off. Radius 2 keeps the verified output tight on this
# shared-vocabulary corpus (fingerprints are correlated; see distribution in
# tests/test_llm_ops.py).
_SIM_BITS = 32
_SIM_BAND_BITS = 8
_HAMMING_T = 2


#: planted-duplicate re-key offsets; doc_id must stay below _DUP_OFFSET or
#: the planted keys collide with real ones and the incremental-batch split
#: (doc_id >= _DUP_OFFSET ⇒ "new batch") silently misclassifies rows. The
#: oracle shares the offsets, so parity checks would NOT catch a collision —
#: near_dup_corpus carries an in-plan raise_error guard instead.
_DUP_OFFSET = 100000


def near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (doc_id % 10, re-keyed +100000) ∪ near
    copies with the leading word dropped (doc_id % 7, re-keyed +200000).

    The guard on doc_id fails the job loudly if a scale factor ever produces
    doc_id ≥ the re-key offset (per-row, codegen'd, no extra action). It is
    embedded in the PROJECTION, not a filter: Catalyst's
    InferFiltersFromConstraints copies filter predicates across equi-join
    keys on the assumption they are pure, so a filter-shaped guard gets
    replicated onto join partners that legitimately carry re-keyed ids
    ≥ the offset and raises spuriously. A value-level CASE stays attached
    to the raw scan column."""
    guarded_id = F.when(F.col("doc_id") < _DUP_OFFSET, F.col("doc_id")).otherwise(
        F.raise_error(
            F.lit("near_dup_corpus: doc_id >= planted-dup offset; raise _DUP_OFFSET")
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        guarded_id.alias("doc_id"), "lang", "text"
    )
    dup = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "lang", "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2 * _DUP_OFFSET).alias("doc_id"),
        "lang",
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    return docs.unionByName(dup).unionByName(near)


_CORPUS_SQL = r"""
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, lang, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, lang, regexp_replace(text, '^\S+\s+', '') FROM documents
  WHERE doc_id % 7 = 0
"""


# --------------------------------------------------------------------------
# 1. Exact dedup: normalized-content hash groupBy
# --------------------------------------------------------------------------

def dedup_documents_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 of whitespace-normalized lowercase text: per
    language, docs before/after and removals. At 100 TB: one shuffle on the
    content hash (uniform, unskewed); survivors = min(doc_id) per hash."""
    corpus = near_dup_corpus(spark, sf_dir)
    h = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    return (
        corpus.select("lang", h.alias("h"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_removed"),
        )
        .orderBy("lang")
    )


def dedup_documents_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized exact dedup: the kept doc per content hash (keep-first =
    min doc_id), i.e. the actual deduplicated corpus a pipeline would write
    out. One shuffle on the content hash; emits (survivor, group size)."""
    corpus = near_dup_corpus(spark, sf_dir)
    h = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    return (
        corpus.select("doc_id", h.alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select("survivor_id", "group_size")
        .orderBy("survivor_id")
    )


_SURVIVORS_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL})
SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS group_size
FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM corpus)
GROUP BY h
ORDER BY survivor_id
"""


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a NEW batch (the planted copies, doc_id ≥
    100000 in :func:`near_dup_corpus`) is checked against the EXISTING corpus
    (the original documents) by content hash — exact copies are dropped,
    novel docs kept. This is the steady-state shape of a production dedup
    pipeline: hash the small arriving batch, LEFT ANTI join against the
    corpus hash index (shuffle bounded by batch size + index, never
    all-pairs), emit per-lang arrival/keep/drop counts."""
    corpus = near_dup_corpus(spark, sf_dir)
    h = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    existing = corpus.filter(F.col("doc_id") < _DUP_OFFSET).select(h.alias("h")).distinct()
    batch = corpus.filter(F.col("doc_id") >= _DUP_OFFSET).select("doc_id", "lang", h.alias("h"))
    kept = batch.join(existing, "h", "left_anti")
    arrived = batch.groupBy("lang").agg(F.count(F.lit(1)).alias("n_arrived"))
    kept_n = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        arrived.join(kept_n, "lang", "left")
        .select(
            "lang",
            "n_arrived",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_arrived") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
        .orderBy("lang")
    )


_INCREMENTAL_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
hashed AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM corpus),
existing AS (SELECT DISTINCT h FROM hashed WHERE doc_id < 100000),
batch AS (SELECT doc_id, lang, h FROM hashed WHERE doc_id >= 100000),
kept AS (
  -- NOT EXISTS, not NOT IN: NOT IN returns no rows when any h is NULL,
  -- whereas the Spark side's left_anti join keeps null-keyed batch rows —
  -- NOT EXISTS matches anti-join null semantics exactly.
  SELECT lang, COUNT(*) AS n_kept
  FROM batch b2 WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = b2.h)
  GROUP BY lang)
SELECT b.lang, COUNT(*) AS n_arrived,
       COALESCE(MAX(n_kept), 0) AS n_kept,
       COUNT(*) - COALESCE(MAX(n_kept), 0) AS n_dropped
FROM batch b LEFT JOIN kept k ON b.lang = k.lang
GROUP BY b.lang
ORDER BY b.lang
"""


_EXACT_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
hashed AS (
  SELECT lang, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM corpus
)
SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_unique,
       COUNT(*) - COUNT(DISTINCT h) AS n_removed
FROM hashed
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# 2. MinHash-LSH near-dedup with exact-Jaccard verification
# --------------------------------------------------------------------------

def _shingles(corpus: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles per doc (the Jaccard universe).
    element_at×3 instead of slice(…, 3): same output, ~25% faster — slice
    allocates a sub-array per shingle position, element_at does not."""
    toks = corpus.select("doc_id", tokens("text").alias("tk")).filter(
        F.size("tk") >= 3
    )
    tk = F.col("tk")
    sh = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(tk, i), F.element_at(tk, i + 1), F.element_at(tk, i + 2)
        ),
    )
    return toks.select("doc_id", F.explode(sh).alias("shingle")).distinct()


_DUCK_SHINGLES = r"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM corpus
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingle
  FROM toks
  WHERE len(tk) >= 3
)
"""


def _sig_wide(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh11) MinHash signature as ONE wide aggregate: 12
    min-columns over the shingle table instead of a 12× seed explode. The
    hash values are identical to the exploded formulation (same
    ``md5(shingle || '#' || seed)``), but the shuffle carries one row per
    doc-shingle instead of twelve, and map-side partial mins collapse most
    of it — measured ~2× on the whole MinHash pipeline at sf0.1."""
    aggs = [
        F.min(
            md5_long(F.concat(F.col("shingle"), F.lit(f"#{s}")))
        ).alias(f"mh{s}")
        for s in range(_NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_table(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band table from a (doc_id, shingle) table:
    wide min-hash signature → band md5 digests → unpivot to one row per
    (doc, band). Whole-stage-codegen hashing — the batch throughput path
    (contrast :func:`rowwise_bands`, the map-only streaming path; both
    produce byte-identical keys, pinned by pytest)."""
    return _bands_from_sig(_sig_wide(sh))


def _bands_from_sig(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) from a wide (doc_id, mh0..mh11) signature."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{b * _R + i}").cast("string")
                        for i in range(_R)
                    ],
                )
            ).alias("bkey"),
        )
        for b in range(_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("x")
    ).select("doc_id", F.col("x.band").alias("band"), F.col("x.bkey").alias("bkey"))


def dedup_documents_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → banded LSH candidate pairs → exact Jaccard ≥ 0.5.

    Pipeline (all equi-joins/aggregations, no cross product):
      shingle explode → min-hash per (doc, seed) → signature array →
      band md5 key → self-join on (band, key) → exact Jaccard on candidates.
    """
    corpus = near_dup_corpus(spark, sf_dir)
    # the shingle table feeds two branches (the signatures in _sig_wide and
    # the shingle sets of the Jaccard verify) — materialize it once
    sh = materialize(_shingles(corpus))
    cand = _band_candidates(_band_table(sh))
    return _exact_jaccard_verify(cand, sh)


def _grouped_pairs(
    df: DataFrame,
    keys: list[str],
    id_col: str = "doc_id",
    cap: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct ordered (da < db) id pairs per key group — the blocked
    pairing step of every inverted-index/LSH candidate generator here.

    Shape (r17): ONE aggregation collects each group's distinct ids into a
    sorted array and the pairs are expanded IN-ROW (positional i < j over
    the sorted array ⇒ da < db), replacing a self-join of the table with
    itself on the group key. The self-join shape paid two shuffles of the
    full table plus the join; this pays one groupBy of the table and goes
    straight to the pair distinct — measured 2.3× on the containment
    generator at sf0.1 with byte-identical output. The pair VOLUME is
    unchanged (C(group, 2) either way), but its skew is not the
    self-join's: each group's C(n, 2) pairs are built in ONE row, as one
    array, before the explode, so a hot key's whole pair list sits in one
    row of one task. ``cap`` (the DF cap) is the structural bound, applied
    here as an array-size filter identical to the old per-key COUNT filter
    because inputs are distinct per (key, id).

    ``carry`` names key columns to keep in the output (e.g. the sweep's
    config tag); the distinct is then over (carry..., da, db)."""
    ds = F.array_sort(F.collect_set(id_col))
    g = df.groupBy(*keys).agg(ds.alias("_ds"))
    cond = F.size("_ds") >= 2
    if cap is not None:
        cond = cond & (F.size("_ds") <= cap)
    pairs = F.flatten(
        F.transform(
            "_ds",
            lambda x, i: F.transform(
                F.slice("_ds", i + 2, F.size("_ds")),
                lambda y: F.struct(x.alias("da"), y.alias("db")),
            ),
        )
    )
    return (
        g.filter(cond)
        .select(*carry, F.explode(pairs).alias("_p"))
        .select(*carry, F.col("_p.da").alias("da"), F.col("_p.db").alias("db"))
        .distinct()
    )


def _band_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (da, db) candidate pairs from a band table: grouped pair
    expansion per (band, bkey) — the only pairing step, never an all-pairs
    product."""
    return _grouped_pairs(bands, ["band", "bkey"])


def _exact_jaccard_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard over (da, db) candidate pairs given the per-doc distinct
    shingle sets; emits pairs at or above the threshold. Cost is proportional
    to candidate volume only — the candidate generator bounds the work.

    Shape (r17): each doc's distinct shingles are packed into ONE array row
    (one aggregation of ``sh``), candidates attach both arrays with two
    doc-id equi-joins, and the intersection count is a per-row codegen'd
    ``size(array_intersect(...))``. The previous formulation exploded every
    candidate's full shingle set back into rows — candidate_volume ×
    shingles_per_doc rows through two exchanges plus a re-aggregation, then
    two more joins for the set sizes. Value-identical: ``sh`` is distinct
    per (doc_id, shingle), so the array IS the set — the intersection count
    and sizes are the same integers, and pairs with no overlap (which the
    old inner explode-join dropped early) fall to jaccard 0 < threshold."""
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("ss"))
    a = sets.select(F.col("doc_id").alias("da"), F.col("ss").alias("ssa"))
    b = sets.select(F.col("doc_id").alias("db"), F.col("ss").alias("ssb"))
    i = F.size(F.array_intersect("ssa", "ssb"))
    # div-safe: i <= min(na, nb), so the union size na+nb-i >= max(na, nb)
    # >= 1 (sets only lists docs with non-empty shingle sets)
    jac = i / (F.size("ssa") + F.size("ssb") - i)
    return (
        cand.join(a, "da")
        .join(b, "db")
        .filter(jac >= _JACCARD_T)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


#: Shared oracle tail: exact Jaccard over a ``cand(da, db)`` CTE given ``sh``.
_DUCK_JACCARD_TAIL = f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
  GROUP BY c.da, c.db
)
SELECT da AS doc_a, db AS doc_b,
       -- div-safe: union size >= max(sa.n, sb.n) >= 1
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
-- div-safe: union size >= max(sa.n, sb.n) >= 1
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_JACCARD_T}
ORDER BY doc_a, doc_b
"""


def dedup_documents_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-Spark MinHash-LSH variant: ``ml.feature.MinHashLSH`` +
    ``approxSimilarityJoin`` (HashingTF shingle vectors, 8 hash tables,
    fixed seed), candidates exact-Jaccard-verified like the portable
    implementation. This is the one-liner scale path a Spark shop would
    reach for first; it is driver-checked rows-only because the ML hash
    coefficients are engine-internal (the DuckDB oracle cannot replay
    them) — planted-pair recall is asserted in pytest instead, and every
    emitted pair is exact-verified so output precision is 1.0."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    corpus = near_dup_corpus(spark, sf_dir)
    sh = materialize(_shingles(corpus))
    docs = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles"))
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(docs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.5, distCol="dist")
    cand = (
        joined.select(
            F.col("datasetA.doc_id").alias("da"),
            F.col("datasetB.doc_id").alias("db"),
        )
        .filter(F.col("da") < F.col("db"))
        .distinct()
    )
    return _exact_jaccard_verify(cand, sh)


def dedup_documents_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dedup WITHOUT sketching: candidate pairs are docs
    sharing at least one *rare* shingle (document frequency ≤ 4 — an
    inverted-index join with a hard DF cap, so no common shingle can fan out
    quadratically), then exact Jaccard ≥ 0.5 on candidates.

    Versus MinHash: exact recall for any near-dup pair that shares a rare
    shingle (near-identical docs always do — most of their shingles have
    DF = 2), at the cost of a bigger candidate set; the DF cap is the knob
    that keeps the blocked join linear at 100 TB."""
    corpus = near_dup_corpus(spark, sf_dir)
    sh = materialize(_shingles(corpus))
    # DF-capped inverted index as grouped pair expansion (see _grouped_pairs):
    # one groupBy(shingle) replaces the rare-filter + self-join — groups of
    # size 1 pair nothing and groups over the cap are dropped, exactly the
    # old df <= 4 discipline.
    cand = _grouped_pairs(sh, ["shingle"], cap=4)
    return _exact_jaccard_verify(cand, sh)


_NGRAM_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
{_DUCK_SHINGLES},
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 4
),
rsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_DUCK_JACCARD_TAIL}
"""


_MINHASH_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
{_DUCK_SHINGLES},
mh AS (
  SELECT doc_id, seed,
         MIN({duck_md5_long("shingle || '#' || CAST(seed AS VARCHAR)")}) AS mh
  FROM sh, (SELECT unnest(generate_series(0, {_NUM_HASHES - 1})) AS seed) seeds
  GROUP BY doc_id, seed
),
sig AS (
  SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(
           list_transform(list_slice(sig, band * {_R} + 1, band * {_R} + {_R}),
                          x -> CAST(x AS VARCHAR)), ',')) AS bkey
  FROM sig, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
{_DUCK_JACCARD_TAIL}
"""


#: (bands, rows-per-band) configurations sharing the 12-hash signature.
_SWEEP_CONFIGS = ((2, 6), (3, 4), (4, 3), (6, 2))


def dedup_minhash_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding trade-off curve — the tuning run before committing a
    band/row configuration to a 100 TB dedup: the SAME 12-hash signature is
    banded four ways (2×6 … 6×2), and for each configuration the sweep
    reports candidate volume, how many candidates verify at the exact
    Jaccard threshold, the resulting precision, and the THEORETICAL
    detection probability at the threshold (1−(1−J^r)^b — the S-curve both
    the empirical columns should track: more bands with shorter rows catch
    more true pairs but admit more false candidates).

    Cost shape: the signature is computed ONCE (the same wide min-aggregate
    the production dedup uses) and each configuration adds only a band-key
    projection + equi-join; the exact-Jaccard verify touches candidates
    only. The per-config counts are bounded aggregates (same
    driver-scalar pattern as the detector-P/R audit)."""
    corpus = near_dup_corpus(spark, sf_dir)
    sh = materialize(_shingles(corpus))
    sig = materialize(_sig_wide(sh))
    # ALL four configurations ride one plan: the band table is tagged with
    # its config (2+3+4+6 = 15 band structs exploded from the one wide
    # signature), candidates come from ONE self-join on (cfg, band, bkey),
    # the expensive exact-Jaccard verify runs once over the distinct union
    # (per-config candidate sets overlap heavily — a pair colliding at r=3
    # usually collides at r=2 too), and every per-config count lands in a
    # single groupBy(cfg) collect. Replaces four per-config materializes +
    # eight count actions (47 jobs → ~17 at sf0.1) with identical output.
    # cfg is keyed by the (b, r) COMPOSITE (b*100+r), not b alone, so two
    # future configs sharing a band count can never silently merge their
    # candidate sets (r16 advice — structural invariant, not incidental)
    band_structs = [
        F.struct(
            F.lit(b * 100 + r).alias("cfg"),
            F.lit(band).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{band * r + i}").cast("string")
                        for i in range(r)
                    ],
                )
            ).alias("bkey"),
        )
        for b, r in _SWEEP_CONFIGS
        for band in range(b)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        "doc_id",
        F.col("bs.cfg").alias("cfg"),
        F.col("bs.band").alias("band"),
        F.col("bs.bkey").alias("bkey"),
    )
    cand_all = materialize(
        _grouped_pairs(bands, ["cfg", "band", "bkey"], carry=("cfg",))
    )
    verified_pairs = _exact_jaccard_verify(
        cand_all.select("da", "db").distinct(), sh
    ).select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db"))
    stats = {
        int(r["cfg"]): (int(r["n_cand"]), int(r["n_ver"]))
        for r in cand_all.join(
            verified_pairs.withColumn("v", F.lit(1)), ["da", "db"], "left"
        )
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum(F.coalesce(F.col("v"), F.lit(0))).alias("n_ver"),
        )
        .collect()
    }
    rows = []
    for b, r in _SWEEP_CONFIGS:
        n_cand, n_ver = stats.get(b * 100 + r, (0, 0))
        detect_prob = 1.0 - (1.0 - _JACCARD_T ** r) ** b
        rows.append((b, r, n_cand, n_ver, detect_prob))
    out = spark.createDataFrame(
        rows,
        schema="bands int, rows_per_band int, n_candidates bigint, "
        "n_verified bigint, detect_prob_raw double",
    )
    return out.select(
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_verified",
        F.round(
            F.col("n_verified") / F.greatest(F.col("n_candidates"), F.lit(1)), 6
        ).alias("precision"),
        F.round(F.col("detect_prob_raw"), 6).alias("detect_prob_at_t"),
    ).orderBy("bands")


def _minhash_sweep_oracle() -> str:
    parts = []
    selects = []
    for b, r in _SWEEP_CONFIGS:
        parts.append(
            f"bands_{b} AS (\n"
            f"  SELECT doc_id, band,\n"
            f"         md5(array_to_string(\n"
            f"           list_transform(list_slice(sig, band * {r} + 1, band * {r} + {r}),\n"
            f"                          x -> CAST(x AS VARCHAR)), ',')) AS bkey\n"
            f"  FROM sig, (SELECT unnest(generate_series(0, {b - 1})) AS band) t\n"
            f"),\n"
            f"cand_{b} AS (\n"
            f"  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db\n"
            f"  FROM bands_{b} a JOIN bands_{b} b\n"
            f"    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id\n"
            f"),\n"
            f"ver_{b} AS (\n"
            f"  SELECT COUNT(*) AS v FROM (\n"
            f"    SELECT c.da, c.db, COUNT(*) AS i\n"
            f"    FROM cand_{b} c\n"
            f"    JOIN sh x ON x.doc_id = c.da\n"
            f"    JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle\n"
            f"    GROUP BY c.da, c.db) q\n"
            f"  JOIN sizes sa ON sa.doc_id = q.da\n"
            f"  JOIN sizes sb ON sb.doc_id = q.db\n"
            f"  -- div-safe: union size >= max(sa.n, sb.n) >= 1\n"
            f"  WHERE CAST(q.i AS DOUBLE) / (sa.n + sb.n - q.i) >= {_JACCARD_T}\n"
            f")"
        )
        detect_prob = 1.0 - (1.0 - _JACCARD_T ** r) ** b
        selects.append(
            f"SELECT CAST({b} AS INTEGER) AS bands,\n"
            f"       CAST({r} AS INTEGER) AS rows_per_band,\n"
            f"       (SELECT COUNT(*) FROM cand_{b}) AS n_candidates,\n"
            f"       (SELECT v FROM ver_{b}) AS n_verified,\n"
            f"       ROUND((SELECT v FROM ver_{b})\n"
            f"             / CAST(GREATEST((SELECT COUNT(*) FROM cand_{b}), 1)\n"
            f"                    AS DOUBLE), 6) AS precision,\n"
            f"       ROUND({detect_prob!r}, 6) AS detect_prob_at_t"
        )
    ctes = ",\n".join(parts)
    union = "\nUNION ALL\n".join(selects)
    return rf"""
WITH corpus AS ({_CORPUS_SQL}),
{_DUCK_SHINGLES},
mh AS (
  SELECT doc_id, seed,
         MIN({duck_md5_long("shingle || '#' || CAST(seed AS VARCHAR)")}) AS mh
  FROM sh, (SELECT unnest(generate_series(0, {_NUM_HASHES - 1})) AS seed) seeds
  GROUP BY doc_id, seed
),
sig AS (
  SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
{ctes}
{union}
ORDER BY bands
"""


_MINHASH_SWEEP_SQL = _minhash_sweep_oracle()


def minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair, the MinHash
    *estimate* of Jaccard (fraction of the 12 seeds whose min-hashes agree —
    the unbiased estimator E[mh_a=mh_b] = J) next to the *exact* Jaccard
    from the shingle sets, with the absolute error.

    This is the report that justifies (or rejects) a band/hash configuration
    before a 100 TB dedup run: if the error column is wide at the decision
    threshold, NUM_HASHES is too small. Same asymptotics as the dedup itself
    — the pairing is the banded equi-join, the estimator join carries 12
    rows per candidate pair, and the exact side touches candidates only."""
    corpus = near_dup_corpus(spark, sf_dir)
    sh = materialize(_shingles(corpus))
    sig = materialize(_sig_wide(sh))
    cand = _band_candidates(_bands_from_sig(sig))
    sa_sig = sig.select(
        F.col("doc_id").alias("da"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_NUM_HASHES)]
    )
    sb_sig = sig.select(
        F.col("doc_id").alias("db"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_NUM_HASHES)]
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_NUM_HASHES)
    )
    est = (
        cand.join(sa_sig, "da")
        .join(sb_sig, "db")
        .select("da", "db", (n_agree / _NUM_HASHES).alias("est_j"))
    )
    # Array-packed exact side (r17, same shape as _exact_jaccard_verify):
    # size(array_intersect(...)) per candidate row replaces the exploded
    # shingle join + re-aggregation. A banded collision CAN pair docs with
    # zero shared shingles (est_j > 0, exact 0) — precisely the rows this
    # audit exists to expose; the array intersection yields i = 0 for them
    # directly (the old explode-join needed a left join + coalesce).
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("ss"))
    seta = sets.select(F.col("doc_id").alias("da"), F.col("ss").alias("ssa"))
    setb = sets.select(F.col("doc_id").alias("db"), F.col("ss").alias("ssb"))
    i = F.size(F.array_intersect("ssa", "ssb"))
    exact = (
        cand.join(seta, "da")
        .join(setb, "db")
        .select(
            "da",
            "db",
            # div-safe: union size >= max(na, nb) >= 1 (i <= min(na, nb))
            (i / (F.size("ssa") + F.size("ssb") - i)).alias("exact_j"),
        )
    )
    return (
        est.join(exact, ["da", "db"])
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.round("est_j", 4).alias("est_j"),
            F.round("exact_j", 4).alias("exact_j"),
            F.round(F.abs(F.col("est_j") - F.col("exact_j")), 4).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


_MINHASH_ERR_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
{_DUCK_SHINGLES},
mh AS (
  SELECT doc_id, seed,
         MIN({duck_md5_long("shingle || '#' || CAST(seed AS VARCHAR)")}) AS mh
  FROM sh, (SELECT unnest(generate_series(0, {_NUM_HASHES - 1})) AS seed) seeds
  GROUP BY doc_id, seed
),
sig AS (
  SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(
           list_transform(list_slice(sig, band * {_R} + 1, band * {_R} + {_R}),
                          x -> CAST(x AS VARCHAR)), ',')) AS bkey
  FROM sig, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.da, c.db,
         -- div-safe: _NUM_HASHES is a nonzero module constant
         SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / CAST({_NUM_HASHES} AS DOUBLE) AS est_j
  FROM cand c
  JOIN mh x ON x.doc_id = c.da
  JOIN mh y ON y.doc_id = c.db AND y.seed = x.seed
  GROUP BY c.da, c.db
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
  GROUP BY c.da, c.db
),
exact AS (
  SELECT c.da, c.db,
         -- div-safe: union size >= max(sa.n, sb.n) >= 1
         COALESCE(i.i, 0) / CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE) AS exact_j
  FROM cand c
  LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
  JOIN sizes sa ON sa.doc_id = c.da
  JOIN sizes sb ON sb.doc_id = c.db
)
SELECT e.da AS doc_a, e.db AS doc_b,
       ROUND(e.est_j, 4) AS est_j,
       ROUND(x.exact_j, 4) AS exact_j,
       ROUND(ABS(e.est_j - x.exact_j), 4) AS abs_err
FROM est e JOIN exact x ON x.da = e.da AND x.db = e.db
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# b-bit minhash (Li & König 2010): 15x smaller signatures, corrected bias
# --------------------------------------------------------------------------

#: bits kept per minhash value (b-bit minwise hashing).
_BBIT_B = 4
_BBIT_MOD = 2 ** _BBIT_B
#: collision probability of two NON-matching mins after b-bit truncation
#: (exact 2^-b in the large-universe limit the estimator assumes).
_BBIT_C = 1.0 / _BBIT_MOD


def dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-BIT MINWISE HASHING (Li & König 2010) — the memory-scale move on
    top of MinHash: keep only the lowest ``b=4`` bits of each of the 12
    minhash values (6 bytes/doc instead of 96), and undo the truncation
    collisions analytically: matching b-bit values happen with probability
    ``C + (1-C)·J`` (``C = 2^-b``), so ``Ĵ_b = (M_b − C)/(1 − C)`` is the
    bias-corrected estimate from the observed b-bit match fraction
    ``M_b``. Per LSH candidate pair: the exact Jaccard, the full-width
    estimate, the b-bit corrected estimate, and both absolute errors —
    the accuracy-vs-15× audit that decides whether a 100 TB signature
    store can ship 4-bit registers.

    Scale shape: identical candidate discipline to every minhash query
    here (pairs come from the banded equi-join, never all-pairs); the
    per-pair work is 12 column equality tests on the broadcast-size
    signature table, and the truncation itself is a map-side ``pmod``."""
    corpus = near_dup_corpus(spark, sf_dir)
    sh = materialize(_shingles(corpus))
    sig = materialize(_sig_wide(sh))
    cand = _band_candidates(_bands_from_sig(sig))
    sa = sig.select(
        F.col("doc_id").alias("da"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_NUM_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("db"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_NUM_HASHES)],
    )
    paired = cand.join(sa, "da").join(sb, "db")
    m_full = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(_NUM_HASHES)
    )
    m_bbit = sum(
        (F.col(f"a{i}") % _BBIT_MOD == F.col(f"b{i}") % _BBIT_MOD).cast("int")
        for i in range(_NUM_HASHES)
    )
    # div-safe: _NUM_HASHES and (1 - _BBIT_C) are nonzero module constants
    est_full = m_full / F.lit(float(_NUM_HASHES))
    est_bbit = (
        m_bbit / F.lit(float(_NUM_HASHES)) - F.lit(_BBIT_C)
    ) / F.lit(1.0 - _BBIT_C)
    ests = paired.select("da", "db", est_full.alias("ef"), est_bbit.alias("eb"))

    # Array-packed exact side (r17, same shape as _exact_jaccard_verify):
    # size(array_intersect(...)) per candidate row replaces the exploded
    # shingle join + re-aggregation; zero-overlap collisions yield i = 0
    # directly instead of needing the left join + coalesce.
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("ss"))
    seta = sets.select(F.col("doc_id").alias("da"), F.col("ss").alias("ssa"))
    setb = sets.select(F.col("doc_id").alias("db"), F.col("ss").alias("ssb"))
    i = F.size(F.array_intersect("ssa", "ssb"))
    # div-safe: union size >= max(na, nb) >= 1
    exact_j = i / (F.size("ssa") + F.size("ssb") - i).cast("double")
    exact = (
        cand.join(seta, "da")
        .join(setb, "db")
        .select("da", "db", exact_j.alias("xj"))
    )
    return (
        ests.join(exact, ["da", "db"])
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.round("xj", 4).alias("exact_j"),
            F.round("ef", 4).alias("est_full"),
            F.round("eb", 4).alias("est_bbit"),
            F.round(F.abs(F.col("ef") - F.col("xj")), 4).alias("err_full"),
            F.round(F.abs(F.col("eb") - F.col("xj")), 4).alias("err_bbit"),
        )
        .orderBy("doc_a", "doc_b")
    )


_BBIT_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
{_DUCK_SHINGLES},
mh AS (
  SELECT doc_id, seed,
         MIN({duck_md5_long("shingle || '#' || CAST(seed AS VARCHAR)")}) AS mh
  FROM sh, (SELECT unnest(generate_series(0, {_NUM_HASHES - 1})) AS seed) seeds
  GROUP BY doc_id, seed
),
sig AS (
  SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(
           list_transform(list_slice(sig, band * {_R} + 1, band * {_R} + {_R}),
                          x -> CAST(x AS VARCHAR)), ',')) AS bkey
  FROM sig, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
ests AS (
  SELECT c.da, c.db,
         -- div-safe: _NUM_HASHES is a nonzero module constant
         SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
           / {float(_NUM_HASHES)!r} AS ef,
         -- div-safe: (1 - C) is a nonzero module constant
         (SUM(CASE WHEN x.mh % {_BBIT_MOD} = y.mh % {_BBIT_MOD}
                   THEN 1 ELSE 0 END) / {float(_NUM_HASHES)!r}
          - {_BBIT_C!r}) / {1.0 - _BBIT_C!r} AS eb
  FROM cand c
  JOIN mh x ON x.doc_id = c.da
  JOIN mh y ON y.doc_id = c.db AND y.seed = x.seed
  GROUP BY c.da, c.db
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
  GROUP BY c.da, c.db
),
exact AS (
  SELECT c.da, c.db,
         -- div-safe: union size >= max(sa.n, sb.n) >= 1
         COALESCE(i.i, 0) / CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE) AS xj
  FROM cand c
  LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
  JOIN sizes sa ON sa.doc_id = c.da
  JOIN sizes sb ON sb.doc_id = c.db
)
SELECT e.da AS doc_a, e.db AS doc_b,
       ROUND(x.xj, 4) AS exact_j,
       ROUND(e.ef, 4) AS est_full,
       ROUND(e.eb, 4) AS est_bbit,
       ROUND(ABS(e.ef - x.xj), 4) AS err_full,
       ROUND(ABS(e.eb - x.xj), 4) AS err_bbit
FROM ests e JOIN exact x ON x.da = e.da AND x.db = e.db
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Contrastive pair mining (positives + LSH-false-positive hard negatives)
# --------------------------------------------------------------------------

def contrastive_pairs_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair DATASET MINING for embedding-model training, built
    from the dedup pipeline's own byproducts: POSITIVES are the verified
    near-dup pairs (exact Jaccard >= 0.5), and HARD NEGATIVES are the LSH
    candidates that FAILED verification — banded-signature collisions whose
    exact overlap is below threshold, i.e. pairs that *look* alike to the
    sketch but aren't. That is precisely the "hard" negative a contrastive
    loss needs (random negatives are trivially separable; sketch-collision
    negatives sit near the decision boundary by construction).

    Per anchor language: candidate/positive/hard-negative counts, the mean
    exact Jaccard of each class (the margin the training data will carry),
    and the hard-negative ratio. Scale shape: identical to the dedup
    pipeline itself — banded equi-join candidates, exact verification on
    candidates only; the mining is a reclassification of rows the dedup
    run already produced, so it is FREE on top of a 100 TB dedup pass."""
    corpus = near_dup_corpus(spark, sf_dir)
    sh = materialize(_shingles(corpus))
    sig = materialize(_sig_wide(sh))
    cand = _band_candidates(_bands_from_sig(sig))
    # Array-packed exact scoring (r17, same shape as _exact_jaccard_verify):
    # size(array_intersect(...)) per candidate row replaces the exploded
    # shingle join + re-aggregation; zero-overlap collisions — the hardest
    # negatives — yield i = 0 directly (the old path needed a left join +
    # coalesce to keep them).
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("ss"))
    seta = sets.select(F.col("doc_id").alias("da"), F.col("ss").alias("ssa"))
    setb = sets.select(F.col("doc_id").alias("db"), F.col("ss").alias("ssb"))
    i = F.size(F.array_intersect("ssa", "ssb"))
    scored = (
        cand.join(seta, "da")
        .join(setb, "db")
        .select(
            "da",
            "db",
            # div-safe: union size >= max(na, nb) >= 1 (i <= min(na, nb))
            (i / (F.size("ssa") + F.size("ssb") - i)).alias("exact_j"),
        )
    )
    langs = corpus.select("doc_id", "lang")
    pos = F.col("exact_j") >= _JACCARD_T
    return (
        scored.join(langs.withColumnRenamed("doc_id", "da"), "da")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(pos.cast("int")).cast("long").alias("n_positives"),
            F.sum((~pos).cast("int")).cast("long").alias("n_hard_negatives"),
            F.round(F.avg(F.when(pos, F.col("exact_j"))), 4).alias(
                "avg_positive_j"
            ),
            F.round(F.avg(F.when(~pos, F.col("exact_j"))), 4).alias(
                "avg_hard_negative_j"
            ),
            F.round(
                # div-safe: n_candidates is a GROUP BY count >= 1
                F.sum((~pos).cast("int")) / F.count(F.lit(1)), 4
            ).alias("hard_negative_ratio"),
        )
        .orderBy("lang")
    )


_CONTRASTIVE_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
{_DUCK_SHINGLES},
mh AS (
  SELECT doc_id, seed,
         MIN({duck_md5_long("shingle || '#' || CAST(seed AS VARCHAR)")}) AS mh
  FROM sh, (SELECT unnest(generate_series(0, {_NUM_HASHES - 1})) AS seed) seeds
  GROUP BY doc_id, seed
),
sig AS (
  SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         md5(array_to_string(
           list_transform(list_slice(sig, band * {_R} + 1, band * {_R} + {_R}),
                          x -> CAST(x AS VARCHAR)), ',')) AS bkey
  FROM sig, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
  GROUP BY c.da, c.db
),
scored AS (
  SELECT c.da, c.db,
         -- div-safe: union size >= max(sa.n, sb.n) >= 1
         COALESCE(i.i, 0) / CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE)
           AS exact_j
  FROM cand c
  LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
  JOIN sizes sa ON sa.doc_id = c.da
  JOIN sizes sb ON sb.doc_id = c.db
)
SELECT l.lang,
       COUNT(*) AS n_candidates,
       CAST(SUM(CASE WHEN s.exact_j >= {_JACCARD_T} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_positives,
       CAST(SUM(CASE WHEN s.exact_j < {_JACCARD_T} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hard_negatives,
       ROUND(AVG(CASE WHEN s.exact_j >= {_JACCARD_T} THEN s.exact_j END), 4)
         AS avg_positive_j,
       ROUND(AVG(CASE WHEN s.exact_j < {_JACCARD_T} THEN s.exact_j END), 4)
         AS avg_hard_negative_j,
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
       ROUND(SUM(CASE WHEN s.exact_j < {_JACCARD_T} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS hard_negative_ratio
FROM scored s JOIN corpus l ON l.doc_id = s.da
GROUP BY l.lang
ORDER BY l.lang
"""


# Winnowing (MOSS) parameters: window of 4 consecutive shingle hashes, pairs
# need ≥ 2 shared fingerprints, inverted-index DF cap 8.
_WINNOW_W = 4
_WINNOW_SHARED_T = 2
_WINNOW_DF_CAP = 8


def winnow_fingerprints(corpus: DataFrame) -> DataFrame:
    """(doc_id, fp) distinct winnowing fingerprints of a (doc_id, text)
    corpus: positional word-3-gram hashes, min over each full window of
    ``_WINNOW_W`` consecutive positions. Guarantee (the winnowing theorem):
    two docs sharing a run of ≥ _WINNOW_W consecutive shingles share at
    least one fingerprint — pinned directly by pytest."""
    toks = corpus.select("doc_id", tokens("text").alias("tk")).filter(
        F.size("tk") >= 3
    )
    tk = F.col("tk")
    sh_arr = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(tk, i), F.element_at(tk, i + 1), F.element_at(tk, i + 2)
        ),
    )
    posh = toks.select(
        "doc_id", F.posexplode(sh_arr).alias("pos", "shingle")
    ).select("doc_id", "pos", md5_long(F.col("shingle")).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WINNOW_W - 1)
    return (
        posh.select(
            "doc_id",
            F.min("h").over(w).alias("fp"),
            F.count(F.lit(1)).over(w).alias("wn"),
        )
        # only full windows define fingerprints (tail windows would re-select
        # suffix minima and inflate short docs)
        .filter(F.col("wn") == _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )


def dedup_documents_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup (Schleimer/Wilkerson/Aiken — the MOSS
    algorithm): slide a window of ``_WINNOW_W`` consecutive shingle hashes
    over each document and keep each window's MINIMUM hash as a fingerprint.
    Winnowing guarantees any shared run of ≥ w+2 shingles yields a shared
    fingerprint while storing only ~2/(w+1) of the hashes — the index-size/
    recall dial that plain full-shingle inverted indexes lack at 100 TB.

    Pairing is the usual DF-capped inverted-index equi-join over the
    (already ~4× smaller) fingerprint sets; emitted pairs carry the shared
    count and a containment-style overlap vs the smaller fingerprint set.
    All md5-derived — the DuckDB oracle replays every window min."""
    corpus = near_dup_corpus(spark, sf_dir)
    # fingerprint sets feed the index, both join sides, and the size table
    fp = materialize(winnow_fingerprints(corpus))
    # DF-capped index generates CANDIDATES only (grouped pair expansion per
    # fingerprint, see _grouped_pairs); the shared count is then verified
    # over the FULL fingerprint sets (same generation/verification split as
    # the n-gram operator), so exact copies score overlap = 1.0 even when
    # some of their fingerprints are corpus-common.
    cand = _grouped_pairs(fp, ["fp"], cap=_WINNOW_DF_CAP)
    # Array-packed verify (r17, same shape as _exact_jaccard_verify): each
    # doc's distinct fingerprint set rides as ONE array row and the shared
    # count is a codegen'd size(array_intersect(...)) per candidate — the
    # exploded fingerprint join shuffled candidate_volume × fps_per_doc
    # rows through two exchanges plus a re-aggregation for the same counts.
    sets = fp.groupBy("doc_id").agg(F.collect_list("fp").alias("fps"))
    seta = sets.select(F.col("doc_id").alias("da"), F.col("fps").alias("fpa"))
    setb = sets.select(F.col("doc_id").alias("db"), F.col("fps").alias("fpb"))
    n_shared = F.size(F.array_intersect("fpa", "fpb"))
    # div-safe: sets only lists docs with >= 1 fingerprint, LEAST >= 1
    overlap = n_shared / F.least(F.size("fpa"), F.size("fpb"))
    return (
        cand.join(seta, "da")
        .join(setb, "db")
        .filter(n_shared >= _WINNOW_SHARED_T)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            n_shared.cast("long").alias("n_shared"),
            F.round(overlap, 4).alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    )


_WINNOW_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM corpus
),
posh AS (
  SELECT doc_id, i AS pos,
         {duck_md5_long("array_to_string(list_slice(tk, i, i + 2), ' ')")} AS h
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) idx
  WHERE len(tk) >= 3
),
fp AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS wn
    FROM posh)
  WHERE wn = {_WINNOW_W}
),
rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {_WINNOW_DF_CAP}),
rfp AS (SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp)),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM rfp a JOIN rfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
shared AS (
  SELECT c.da, c.db, COUNT(*) AS n_shared
  FROM cand c
  JOIN fp x ON x.doc_id = c.da
  JOIN fp y ON y.doc_id = c.db AND y.fp = x.fp
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_WINNOW_SHARED_T}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id)
SELECT da AS doc_a, db AS doc_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       -- div-safe: paragraph-set sizes are >= 1
       ROUND(n_shared / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 4) AS overlap
FROM shared
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# 3. SimHash near-dedup (fingerprint + banded Hamming candidates)
# --------------------------------------------------------------------------

def dedup_documents_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc (token-frequency-weighted bit voting), candidate
    pairs via 8-bit band equality, verified by Hamming distance ≤ 6."""
    corpus = near_dup_corpus(spark, sf_dir)
    # 32-bit token hash (8 hex chars of md5): every intermediate value stays
    # below 2^32 ≪ 2^53, so the pow(2,i) divisions below are EXACT in double
    # on both engines; floor() then agrees bit-for-bit (cast-to-int rounding
    # differs between Spark [truncate] and DuckDB [round], floor does not).
    h32 = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    tf = (
        corpus.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", h32)
    )
    # bit votes: +cnt where hash bit i is set, else -cnt  (i in 0..31)
    votes = tf.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_SIM_BITS - 1))).alias("i"),
        "cnt",
        "h",
    ).select(
        "doc_id",
        "i",
        F.when(
            # div-safe: POW(2, i) > 0 always
            F.floor(F.col("h") / F.pow(F.lit(2), F.col("i"))).cast("long") % 2 == 1,
            F.col("cnt"),
        )
        .otherwise(-F.col("cnt"))
        .alias("vote"),
    )
    fp = (
        votes.groupBy("doc_id", "i")
        .agg(F.sum("vote").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.pow(F.lit(2), F.col("i")).cast("long"))
                .otherwise(F.lit(0))
            ).alias("simhash")
        )
    )
    # fingerprints are self-joined below — materialize (1 row/doc)
    fp = materialize(fp)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(_SIM_BITS // _SIM_BAND_BITS - 1))).alias(
            "band"
        ),
    ).select(
        "doc_id",
        "simhash",
        "band",
        (
            F.floor(
                # div-safe: POW(2, band*bits) > 0 always
                F.col("simhash") / F.pow(F.lit(2), F.col("band") * _SIM_BAND_BITS)
            ).cast("long")
            % (2**_SIM_BAND_BITS)
        ).alias("bval"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= _HAMMING_T)
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
  FROM corpus
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt,
         CAST(('0x' || substr(md5(token),1,8)) AS BIGINT) AS h
  FROM toks GROUP BY doc_id, token
),
votes AS (
  SELECT doc_id, i,
         -- div-safe: POW(2, i) > 0 always
         CASE WHEN CAST(FLOOR(h / POW(2, i)) AS BIGINT) % 2 = 1 THEN cnt ELSE -cnt END AS vote
  FROM tf, (SELECT unnest(generate_series(0, {_SIM_BITS - 1})) AS i) bits
),
bitsum AS (
  SELECT doc_id, i, SUM(vote) AS s FROM votes GROUP BY doc_id, i
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, i) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM bitsum GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, band,
         -- div-safe: POW(2, band*bits) > 0 always
         CAST(FLOOR(simhash / POW(2, band * {_SIM_BAND_BITS})) AS BIGINT) % {2**_SIM_BAND_BITS} AS bval
  FROM fp, (SELECT unnest(generate_series(0, {_SIM_BITS // _SIM_BAND_BITS - 1})) AS band) bd
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_T}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Row-wise (map-only) MinHash bands — the streaming-safe signature path
# --------------------------------------------------------------------------

def rowwise_bands(docs: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
    """(band, bkey) LSH band keys computed ENTIRELY inside each row with
    higher-order functions — shingles → 12 min-hashes → 4 band digests as a
    single stateless projection, no explode-shuffle, no groupBy.

    Same hash formula as the batch pipeline (``md5_long(shingle # seed)``,
    band digest = md5 of the comma-joined band slice), so keys are
    interchangeable with :func:`dedup_documents_minhash`'s band table and
    bit-reproducible in DuckDB.

    This is the signature path a STREAM can run (stateless projections are
    always streaming-legal; the batch pipeline's explode → groupBy-min is a
    streaming aggregation that would need its own watermark state). It is
    also the map-only shape: at 100 TB signature computation fuses into the
    scan with zero shuffle. Docs under 3 tokens (no shingles) are dropped,
    matching the batch pipeline's ``size(tk) >= 3`` filter."""
    keep = keep_cols or ["doc_id"]
    tk = tokens("text")
    with_sh = docs.select(*keep, tk.alias("tk")).filter(
        F.size("tk") >= 3
    )
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("tk"), i),
                F.element_at(F.col("tk"), i + 1),
                F.element_at(F.col("tk"), i + 2),
            ),
        )
    )
    # one top-level expression per seed, NOT a lambda over a seed sequence:
    # inside a seed lambda the single-use `sh` alias gets inlined by
    # CollapseProject and the whole shingle construction re-runs per seed
    # (12× — the loop-invariant-HOF recompute the plan audit lints); as 12
    # sibling expressions `sh` is multi-referenced and stays materialized.
    # Hash formula unchanged: md5_long(shingle + "#" + str(seed)).
    def _seeded_min(s: int) -> Column:
        tag = F.lit(f"#{s}")
        return F.array_min(
            F.transform(F.col("sh"), lambda x: md5_long(F.concat(x, tag)))
        )

    mh = F.array(*[_seeded_min(s) for s in range(_NUM_HASHES)])
    banded = (
        with_sh.withColumn("sh", sh)
        .withColumn("mh", mh)
        .select(
            *keep,
            F.explode(F.sequence(F.lit(0), F.lit(_BANDS - 1))).alias("band"),
            "mh",
        )
    )
    bkey = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.slice("mh", F.col("band") * _R + 1, _R),
                lambda v: v.cast("string"),
            ),
        )
    )
    return banded.select(*keep, "band", bkey.alias("bkey"))


#: DuckDB fragment: row-wise band table over a CTE named ``src`` that has
#: (doc_id, lang, text). Mirrors rowwise_bands bit-for-bit.
_DUCK_ROWWISE_BANDS = rf"""
  SELECT doc_id, lang, b.band,
         md5(array_to_string(
             list_transform(list_slice(mh, b.band * {_R} + 1, b.band * {_R} + {_R}),
                            v -> CAST(v AS VARCHAR)), ',')) AS bkey
  FROM (
    SELECT doc_id, lang,
           list_transform(generate_series(0, {_NUM_HASHES - 1}),
             s -> list_min(list_transform(sh,
                    x -> CAST(('0x' || substr(md5(x || '#' || CAST(s AS VARCHAR)),1,15)) AS BIGINT)))) AS mh
    FROM (
      SELECT doc_id, lang,
             list_distinct(list_transform(generate_series(1, len(tk) - 2),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
        FROM src) t
      WHERE len(tk) >= 3) shs) sigs,
  (SELECT unnest(generate_series(0, {_BANDS - 1})) AS band) b
"""


def stream_near_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING near-dup flagger: the planted-dup batch
    (doc_id ≥ offset) plays the arriving stream; the original corpus's
    row-wise band table is the static index. An arriving doc is flagged the
    moment any of its 4 band keys hits the index — the micro-batch-latency
    near-dup signal (candidate-level, no verify pass: the stream shape
    trades the exact-Jaccard confirmation for single-join latency; flagged
    docs would be routed to the batch verifier).

    The arriving batch mixes real near-dups (the planted copies) with
    NOVEL docs (every 13th original, token-reversed — reversing scrambles
    every word-3-gram, so none of its shingles exist in the index): the
    flag must fire on the former and stay quiet on the latter. Per lang:
    arriving docs vs flagged docs. Counts use countDistinct on doc_id, so
    they are independent of which band produced the hit."""
    corpus = near_dup_corpus(spark, sf_dir)
    originals = corpus.filter(F.col("doc_id") < _DUP_OFFSET)
    # the static index is what the BATCH pipeline materializes (codegen
    # explode path); only the arriving side pays the row-wise computation —
    # exactly the production split, made safe by the byte-identical-keys
    # interop test
    index = _band_table(_shingles(originals)).select(
        F.col("doc_id").alias("match_id"), "band", "bkey"
    )
    novel = originals.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 3 * _DUP_OFFSET).alias("doc_id"),
        "lang",
        F.concat_ws(" ", F.reverse(tokens("text"))).alias("text"),
    )
    arriving = corpus.filter(F.col("doc_id") >= _DUP_OFFSET).unionByName(novel)
    arr_bands = rowwise_bands(arriving, keep_cols=["doc_id", "lang"])
    flagged = (
        arr_bands.join(index, ["band", "bkey"])
        .filter(F.col("doc_id") != F.col("match_id"))
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n_flagged"))
    )
    totals = arriving.groupBy("lang").agg(F.count(F.lit(1)).alias("n_arriving"))
    return (
        totals.join(flagged, "lang", "left")
        .select(
            "lang",
            "n_arriving",
            F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
        )
        .orderBy("lang")
    )


_STREAM_FLAGS_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
novel AS (
  SELECT doc_id + {3 * _DUP_OFFSET} AS doc_id, lang,
         array_to_string(list_reverse(
           list_filter(string_split_regex(text, '\s+'), t -> t <> '')), ' ') AS text
  FROM corpus WHERE doc_id < {_DUP_OFFSET} AND doc_id % 13 = 0),
arriving AS (
  SELECT doc_id, lang, text FROM corpus WHERE doc_id >= {_DUP_OFFSET}
  UNION ALL SELECT doc_id, lang, text FROM novel),
idx_bands AS (
  WITH src AS (SELECT doc_id, lang, text FROM corpus WHERE doc_id < {_DUP_OFFSET})
  {_DUCK_ROWWISE_BANDS}),
arr_bands AS (
  WITH src AS (SELECT doc_id, lang, text FROM arriving)
  {_DUCK_ROWWISE_BANDS}),
flagged AS (
  SELECT a.lang, COUNT(DISTINCT a.doc_id) AS n_flagged
  FROM arr_bands a JOIN idx_bands i
    ON a.band = i.band AND a.bkey = i.bkey AND a.doc_id <> i.doc_id
  GROUP BY a.lang)
SELECT t.lang, COUNT(*) AS n_arriving,
       COALESCE(MAX(f.n_flagged), 0) AS n_flagged
FROM arriving t LEFT JOIN flagged f ON t.lang = f.lang
GROUP BY t.lang
ORDER BY t.lang
"""


def dedup_union_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-corpus union dedup with source priority — the merge step when
    assembling a training set from overlapping corpora (curated editions
    beat raw crawl for the same content). A 'curated' corpus (every 3rd
    doc) and the full 'web' crawl are unioned with a priority tag; per
    exact content hash the LOWEST priority number wins (tiebreak doc_id),
    so every curated doc displaces its web twin, and intra-corpus exact
    dups collapse as usual.

    Scale shape: identical to :func:`dedup_documents_exact` — one shuffle
    on the md5 content hash (bounded groups), document bodies never
    shuffle; the priority rule is just the window's ORDER BY. Output: per
    corpus, rows contributed / rows kept / rows ceded to a
    higher-priority copy."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    curated = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("corpus", F.lit("curated"))
        .withColumn("prio", F.lit(1))
    )
    web = docs.withColumn("corpus", F.lit("web")).withColumn("prio", F.lit(2))
    uni = curated.unionByName(web).select(
        "corpus", "prio", "doc_id", F.md5("text").alias("h")
    )
    w = Window.partitionBy("h").orderBy("prio", "doc_id")
    ranked = uni.withColumn("keep", (F.row_number().over(w) == 1).cast("long"))
    return (
        ranked.groupBy("corpus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("keep").cast("long").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("keep")).cast("long").alias("n_ceded"),
        )
        .orderBy("corpus")
    )


_UNION_PRIORITY_SQL = """
WITH uni AS (
  SELECT 'curated' AS corpus, 1 AS prio, doc_id, md5(text) AS h
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 'web', 2, doc_id, md5(text) FROM documents
),
ranked AS (
  SELECT corpus,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY h ORDER BY prio, doc_id) = 1
              THEN 1 ELSE 0 END AS keep
  FROM uni
)
SELECT corpus, COUNT(*) AS n_rows,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_ceded
FROM ranked
GROUP BY corpus
ORDER BY corpus
"""


def dedup_detector_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine detector EVALUATION: precision/recall of the MinHash-LSH
    near-dup detector against the corpus's planted ground truth — the
    metric computation a pipeline runs before trusting a dedup pass, as a
    query rather than a notebook. Truth pairs are the construction of
    :func:`near_dup_corpus` itself ((id, id+1e5) exact copies for id%10=0,
    (id, id+2e5) dropped-word near copies for id%7=0); a detected pair is
    'planted-related' iff both ids share a base (doc_id % offset), which
    also credits the legitimate copy-of-copy pairs the truth list doesn't
    enumerate. One row: per-class recall + detector precision.

    Scale shape: the detector output is the bounded pair table; truth
    construction is a projection of the corpus; all verdicts are equi-joins
    on pair keys."""
    detected = materialize(
        dedup_documents_minhash(spark, sf_dir).select("doc_a", "doc_b")
    )
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    truth_exact = ids.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("t_a"),
        (F.col("doc_id") + _DUP_OFFSET).alias("t_b"),
    )
    truth_near = ids.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("t_a"),
        (F.col("doc_id") + 2 * _DUP_OFFSET).alias("t_b"),
    )

    def hits(truth: DataFrame) -> DataFrame:
        return truth.join(
            detected,
            (truth.t_a == detected.doc_a) & (truth.t_b == detected.doc_b),
            "left_semi",
        )

    n_te = truth_exact.count()
    n_tn = truth_near.count()
    n_he = hits(truth_exact).count()
    n_hn = hits(truth_near).count()
    stats = detected.agg(
        F.count(F.lit(1)).alias("n_detected"),
        F.count_if(
            F.pmod("doc_a", F.lit(_DUP_OFFSET)) == F.pmod("doc_b", F.lit(_DUP_OFFSET))
        ).alias("n_planted_related"),
    )
    # literal counts cast to long: a bare F.lit(int) is int32, but the
    # oracle's COUNT(*) is BIGINT and the driver hashes dtype-sensitively
    return stats.select(
        F.lit(n_te).cast("long").alias("n_truth_exact"),
        F.lit(n_he).cast("long").alias("n_hit_exact"),
        # div-safe: planted truth sets (both recalls) are non-empty by
        # corpus construction (exact dups at doc_id%10, near at %7)
        F.round(F.lit(n_he) / F.lit(n_te), 4).alias("recall_exact"),
        F.lit(n_tn).cast("long").alias("n_truth_near"),
        F.lit(n_hn).cast("long").alias("n_hit_near"),
        # div-safe: see recall_exact note above
        F.round(F.lit(n_hn) / F.lit(n_tn), 4).alias("recall_near"),
        "n_detected",
        "n_planted_related",
        F.round(
            # NULLIF guard (r9 div sweep): a detector that finds nothing has
            # n_detected = 0 — pin precision to NULL in both engines
            F.col("n_planted_related")
            / F.nullif(F.col("n_detected").cast("double"), F.lit(0.0)),
            4,
        ).alias("precision_planted"),
    )


_DETECTOR_PRF_SQL = f"""
WITH detected AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) mh
),
truth_exact AS (
  SELECT doc_id AS t_a, doc_id + {_DUP_OFFSET} AS t_b
  FROM documents WHERE doc_id % 10 = 0
),
truth_near AS (
  SELECT doc_id AS t_a, doc_id + {2 * _DUP_OFFSET} AS t_b
  FROM documents WHERE doc_id % 7 = 0
),
m AS (
  SELECT
    (SELECT COUNT(*) FROM truth_exact) AS n_truth_exact,
    (SELECT COUNT(*) FROM truth_exact t
      WHERE EXISTS (SELECT 1 FROM detected d
                    WHERE d.doc_a = t.t_a AND d.doc_b = t.t_b)) AS n_hit_exact,
    (SELECT COUNT(*) FROM truth_near) AS n_truth_near,
    (SELECT COUNT(*) FROM truth_near t
      WHERE EXISTS (SELECT 1 FROM detected d
                    WHERE d.doc_a = t.t_a AND d.doc_b = t.t_b)) AS n_hit_near,
    (SELECT COUNT(*) FROM detected) AS n_detected,
    (SELECT COUNT(*) FROM detected
      WHERE doc_a % {_DUP_OFFSET} = doc_b % {_DUP_OFFSET}) AS n_planted_related
)
SELECT n_truth_exact, n_hit_exact,
       -- div-safe: planted truth sets are non-empty by corpus construction
       ROUND(n_hit_exact / CAST(n_truth_exact AS DOUBLE), 4) AS recall_exact,
       n_truth_near, n_hit_near,
       -- div-safe: planted truth set non-empty (see above)
       ROUND(n_hit_near / CAST(n_truth_near AS DOUBLE), 4) AS recall_near,
       n_detected, n_planted_related,
       -- NULLIF mirrors the Spark side's zero-detection guard
       ROUND(n_planted_related / NULLIF(CAST(n_detected AS DOUBLE), 0), 4)
         AS precision_planted
FROM m
"""


#: word-gram width for substring-level dedup (the ExactSubstr recipe of
#: Lee et al., "Deduplicating Training Data Makes Language Models Better",
#: applied at word granularity: a duplicated run must span N consecutive
#: tokens to count).
_SPAN_N = 8


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level exact dedup — the third member of the dedup taxonomy
    after whole-document exact and near-dup: find every maximal token span
    that occurs more than once ANYWHERE in the corpus (the suffix-array
    "ExactSubstr" pipeline, re-expressed relationally as duplicated
    word-8-grams merged into gaps-and-islands spans), and report per
    planted tier (base docs / exact copies / near copies): how many docs
    carry duplicated spans, the spans' token volume, and mean coverage.
    Exact copies must read coverage ≈ 1; base docs only their copied part.

    Scale shape: one gram table (doc, pos, hash) — linear in corpus
    tokens; the "duplicated?" flag is a groupBy(h) + equi-join back, never
    a doc×doc pairing, so no quadratic stage exists even for boilerplate
    grams repeated across millions of docs (heavy grams only widen the
    flagged-position set, which stays ≤ the corpus token count). Span
    merging is one window per doc (running max of span end), the standard
    gaps-and-islands plan."""
    corpus = near_dup_corpus(spark, sf_dir)
    toks = corpus.select("doc_id", tokens("text").alias("tk")).filter(
        F.size("tk") >= _SPAN_N
    )
    tk = F.col("tk")
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("tk") - (_SPAN_N - 1)),
        lambda i: F.array_join(F.slice(tk, i, _SPAN_N), " "),
    )
    grams = materialize(
        toks.select(
            "doc_id",
            F.size("tk").alias("n_tokens"),
            F.posexplode(gram_arr).alias("pos", "g"),
        ).select(
            "doc_id", "n_tokens", "pos", md5_long(F.col("g")).alias("h")
        )
    )
    dup_h = grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") >= 2
    )
    flagged = grams.join(dup_h.select("h"), "h").select(
        "doc_id", "n_tokens", "pos", (F.col("pos") + _SPAN_N).alias("end")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "new_island",
        F.when(
            F.col("pos") > F.coalesce(F.max("end").over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = islands.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("end") - F.min("pos")).alias("span_tokens")
    )
    per_doc = spans.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    tier = (
        F.when(F.col("doc_id") >= 2 * _DUP_OFFSET, "near_copy")
        .when(F.col("doc_id") >= _DUP_OFFSET, "exact_copy")
        .otherwise("base")
    )
    return (
        per_doc.select(
            tier.alias("tier"),
            "n_spans",
            "dup_tokens",
            # div-safe: per_doc rows exist only for docs with n_tokens >= 1
            (F.col("dup_tokens") / F.col("n_tokens")).alias("coverage"),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum("dup_tokens").cast("long").alias("dup_tokens"),
            F.round(F.avg("coverage"), 4).alias("avg_coverage"),
        )
        .orderBy("tier")
    )


_SPAN_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM corpus
),
grams AS (
  SELECT doc_id, len(tk) AS n_tokens, i AS pos,
         {duck_md5_long(f"array_to_string(list_slice(tk, i, i + {_SPAN_N - 1}), ' ')")} AS h
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(tk) - {_SPAN_N - 1})) AS i) idx
  WHERE len(tk) >= {_SPAN_N}
),
dup_h AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
flagged AS (
  SELECT g.doc_id, g.n_tokens, g.pos, g.pos + {_SPAN_N} AS "end"
  FROM grams g JOIN dup_h USING (h)
),
islands AS (
  SELECT *,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT *,
           CASE WHEN pos > COALESCE(MAX("end") OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS new_island
    FROM flagged)
),
spans AS (
  SELECT doc_id, n_tokens, island,
         MAX("end") - MIN(pos) AS span_tokens
  FROM islands GROUP BY doc_id, n_tokens, island
),
per_doc AS (
  SELECT doc_id, n_tokens, COUNT(*) AS n_spans, SUM(span_tokens) AS dup_tokens
  FROM spans GROUP BY doc_id, n_tokens
)
SELECT CASE WHEN doc_id >= {2 * _DUP_OFFSET} THEN 'near_copy'
            WHEN doc_id >= {_DUP_OFFSET} THEN 'exact_copy'
            ELSE 'base' END AS tier,
       COUNT(*) AS n_docs,
       CAST(SUM(n_spans) AS BIGINT) AS n_spans,
       CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens,
       -- div-safe: per_doc rows exist only for docs with n_tokens >= 1
       ROUND(AVG(CAST(dup_tokens AS DOUBLE) / n_tokens), 4) AS avg_coverage
FROM per_doc
GROUP BY 1
ORDER BY tier
"""


# --------------------------------------------------------------------------
# Shared-prefix boilerplate census (template/header detection)
# --------------------------------------------------------------------------

#: prefix length that defines a "template" cluster — long enough that a
#: shared prefix is never chance on natural text, short enough to catch
#: crawler boilerplate (cookie banners, license headers, feed templates).
_PREFIX_CHARS = 32


def dedup_common_prefix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-PREFIX boilerplate census — the cheap screen that catches
    template families full-content dedup misses: documents whose first
    ``_PREFIX_CHARS`` characters hash identically are one template cluster
    (crawler cookie banners, license headers, generated-page skeletons all
    share prefixes while their tails differ, so neither exact dedup nor
    MinHash flags them). The planted near-dup corpus guarantees non-trivial
    clusters: exact copies share their full prefix with their source, so
    the census must find them. Per language: cluster count, docs inside
    multi-doc clusters, the largest cluster, and the clustered fraction.

    Scale shape: one scan, a 15-digit md5 prefix key (the repo's portable
    hash), one groupBy on the bounded key space, one per-language rollup —
    the exact-dedup plan shape with a prefix instead of the full text."""
    corpus = near_dup_corpus(spark, sf_dir)
    keyed = corpus.select(
        "lang",
        md5_long(F.substring("text", 1, _PREFIX_CHARS)).alias("pk"),
    )
    clusters = keyed.groupBy("lang", "pk").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        clusters.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_prefix_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("sz") >= 2, F.col("sz"))), F.lit(0)
            ).cast("long").alias("n_docs_in_multi"),
            F.max("sz").cast("long").alias("max_cluster"),
            F.round(
                # div-safe: per-language doc totals are >= 1
                F.coalesce(
                    F.sum(F.when(F.col("sz") >= 2, F.col("sz"))), F.lit(0)
                )
                / F.sum("sz"),
                6,
            ).alias("clustered_frac"),
        )
        .orderBy("lang")
    )


_PREFIX_CENSUS_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
keyed AS (
  SELECT lang,
         {duck_md5_long(f"substr(text, 1, {_PREFIX_CHARS})")} AS pk
  FROM corpus
),
clusters AS (
  SELECT lang, pk, COUNT(*) AS sz FROM keyed GROUP BY lang, pk
)
SELECT lang,
       COUNT(*) AS n_prefix_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN sz >= 2 THEN sz END), 0) AS BIGINT)
         AS n_docs_in_multi,
       CAST(MAX(sz) AS BIGINT) AS max_cluster,
       -- div-safe: per-language doc totals are >= 1
       ROUND(COALESCE(SUM(CASE WHEN sz >= 2 THEN sz END), 0)
             / CAST(SUM(sz) AS DOUBLE), 6) AS clustered_frac
FROM clusters
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# Bottom-k sketch (mergeable distinct estimate + uniform content sample)
# --------------------------------------------------------------------------

_BOTTOMK = 32                 # sketch size per group
_RANK_SPACE = float(1 << 60)  # md5_long rank domain


def sketch_bottomk_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTTOM-K sketch — the third mergeable-sketch estimator family next
    to HLL (registers) and Bloom (bits): per source, keep the k=32
    smallest md5 ranks over distinct document contents; the k-th smallest
    rank r_k estimates the distinct count as (k−1)·2^60/r_k, and the kept
    keys double as a provably UNIFORM content sample (the property
    bottom-k is actually prized for: a mergeable random sample with no
    coordination). The ``__ALL__`` row merges the per-source sketches —
    union the ≤ 32·|sources| kept ranks, re-take the k smallest — without
    touching the corpus again. Exact distinct counts ride along as the
    audit; groups smaller than k report exactly (their sketch IS the
    distinct set).

    Determinism: ranks are the integer cross-engine hash, the k-th order
    statistic is an integer, and the estimate is one double division
    rounded at 2 — bit-identical in both engines.

    Scale shape: one distinct on (source, rank) then a per-source window
    over ≤ distinct rows (partitioned, never global); the merge path
    reads only sketch rows."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    ranks = docs.select(
        "source", md5_long(F.col("text")).alias("rank")
    ).distinct()
    w = Window.partitionBy("source").orderBy("rank")
    sk = (
        ranks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BOTTOMK)
    )
    merged = (
        sk.select("rank")
        .distinct()
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("rank"))
        )
        .filter(F.col("rn") <= _BOTTOMK)
        .select(F.lit("__ALL__").alias("source"), "rank", "rn")
    )
    all_sk = sk.unionByName(merged)
    est_in = all_sk.groupBy("source").agg(
        F.max("rn").alias("k_used"),
        F.max(F.when(F.col("rn") == _BOTTOMK, F.col("rank"))).alias("r_k"),
    )
    # div-safe: r_k >= k >= 1 when the full-sketch branch fires (ranks are
    # distinct positive integers, so the k-th smallest is >= k)
    est = F.when(
        F.col("k_used") < _BOTTOMK, F.col("k_used").cast("double")
    ).otherwise(
        F.round(
            # div-safe: r_k >= k >= 1 in this branch (distinct positive
            # integer ranks, so the k-th smallest is at least k)
            F.lit(float(_BOTTOMK - 1)) * F.lit(_RANK_SPACE) / F.col("r_k"), 2
        )
    )
    exact = docs.groupBy("source").agg(
        F.countDistinct("text").alias("n_exact")
    )
    exact_all = docs.agg(F.countDistinct("text").alias("n_exact")).select(
        F.lit("__ALL__").alias("source"), "n_exact"
    )
    return (
        est_in.join(exact.unionByName(exact_all), "source")
        .select(
            "source",
            "n_exact",
            est.alias("bottomk_estimate"),
            # div-safe: n_exact >= 1 for listed sources
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_error"),
            F.col("k_used").cast("int").alias("k_used"),
        )
        .orderBy("source")
    )


_BOTTOMK_SQL = f"""
WITH ranks AS (
  SELECT DISTINCT source, {duck_md5_long("text")} AS rank FROM documents
),
sk AS (
  SELECT source, rank,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY rank) AS rn
  FROM ranks
  QUALIFY rn <= {_BOTTOMK}
),
merged AS (
  SELECT '__ALL__' AS source, rank,
         ROW_NUMBER() OVER (ORDER BY rank) AS rn
  FROM (SELECT DISTINCT rank FROM sk)
  QUALIFY rn <= {_BOTTOMK}
),
all_sk AS (SELECT * FROM sk UNION ALL SELECT * FROM merged),
est_in AS (
  SELECT source, MAX(rn) AS k_used,
         MAX(CASE WHEN rn = {_BOTTOMK} THEN rank END) AS r_k
  FROM all_sk GROUP BY source
),
exact AS (
  SELECT source, COUNT(DISTINCT text) AS n_exact FROM documents
  GROUP BY source
  UNION ALL
  SELECT '__ALL__', COUNT(DISTINCT text) FROM documents
),
scored AS (
  SELECT e.source, x.n_exact, e.k_used,
         -- div-safe: r_k >= k >= 1 when the full-sketch branch fires
         CASE WHEN e.k_used < {_BOTTOMK} THEN CAST(e.k_used AS DOUBLE)
              ELSE ROUND({float(_BOTTOMK - 1)} * {_RANK_SPACE!r} / e.r_k, 2)
         END AS bottomk_estimate
  FROM est_in e JOIN exact x USING (source)
)
SELECT source,
       CAST(n_exact AS BIGINT) AS n_exact,
       bottomk_estimate,
       -- div-safe: n_exact >= 1 for listed sources
       ROUND(ABS(bottomk_estimate - n_exact) / n_exact, 4) AS rel_error,
       CAST(k_used AS INTEGER) AS k_used
FROM scored
ORDER BY source
"""


# --------------------------------------------------------------------------
# Portable Bloom filter (membership sketch; ingestion-dedup prefilter)
# --------------------------------------------------------------------------

_BLOOM_BITS = 131072     # m = 2^17 bits
_BLOOM_K = 4             # hash functions
_BLOOM_BLOCK = 32        # bits per BIGINT register block (sign-safe shifts)


def sketch_bloom_ingest_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE BLOOM FILTER — the membership sketch that completes the
    family (CMS = frequency, HLL = cardinality, Bloom = membership), in
    its canonical pipeline role: the already-ingested corpus (even
    doc_ids) compresses its content fingerprints into a 2^17-bit filter
    (4096 32-bit register blocks built with one ``bit_or`` aggregate),
    and every arriving document probes the filter BEFORE the expensive
    exact path. Per language: probes, Bloom hits, exact members, false
    positives, and the realized FP rate — next to the rate the m/n/k
    arithmetic predicts, the sketch contract made observable. Guaranteed
    by construction: zero false NEGATIVES (a Bloom can only over-admit),
    which the oracle's exact join verifies row-for-row.

    Determinism: bit positions come from the cross-engine md5 hash
    (``md5_long(key || '#j') % m``); registers are integer ``bit_or``
    sums, so BOTH engines build the identical filter bit-for-bit.

    Scale shape: the filter is 16 KB regardless of corpus size and
    BROADCASTS to the probe side (at 100 TB: the reason ingestion probes
    a Bloom instead of anti-joining the full corpus index); building it
    is one groupBy over 4k block keys with map-side combine."""
    blocks = (
        _bloom_positions(_bloom_member_keys(spark, sf_dir), [])
        .select(
            "block",
            F.pow(F.lit(2.0), F.col("bit")).cast("long").alias("bv"),
        )
        .groupBy("block")
        .agg(F.bit_or("bv").alias("reg"))
    )
    return _bloom_probe_census(spark, sf_dir, blocks)


def _bloom_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, key): per-doc content fingerprint."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("text")).alias("key")
    )


def _bloom_member_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct fingerprints of the already-ingested (even doc_id) half."""
    return (
        _bloom_keyed(spark, sf_dir)
        .filter(F.col("doc_id") % 2 == 0)
        .select("key")
        .distinct()
    )


def _bloom_positions(df: DataFrame, keep: list[str]) -> DataFrame:
    """(…, key, block, bit): the k portable hash positions per key —
    stateless, so the same projection runs on a stream side unchanged."""
    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)]))
    pos = md5_long(
        F.concat(F.col("key"), F.lit("#"), F.col("j").cast("string"))
    ) % _BLOOM_BITS
    return (
        df.select(*keep, "key", js.alias("j"))
        .select(
            *keep,
            "key",
            (pos / _BLOOM_BLOCK).cast("long").alias("block"),
            (pos % _BLOOM_BLOCK).alias("bit"),
        )
    )


def _bloom_probe_census(
    spark: SparkSession, sf_dir: str, blocks: DataFrame
) -> DataFrame:
    """Shared tail: probe every document's k bit positions against the
    (broadcast) register blocks and report the per-language hit/FP census."""
    keyed = _bloom_keyed(spark, sf_dir)
    member_keys = _bloom_member_keys(spark, sf_dir)
    probe = (
        _bloom_positions(keyed, ["doc_id", "lang"])
        .join(F.broadcast(blocks), "block", "left")
        .select(
            "doc_id",
            "lang",
            "key",
            (
                F.coalesce(F.col("reg"), F.lit(0))
                .bitwiseAND(F.pow(F.lit(2.0), F.col("bit")).cast("long"))
                != 0
            ).cast("int").alias("bit_set"),
        )
        .groupBy("doc_id", "lang", "key")
        .agg((F.min("bit_set") == 1).alias("bloom_hit"))
    )
    checked = probe.join(
        member_keys.select("key", F.lit(True).alias("is_member")),
        "key",
        "left",
    ).select(
        "lang",
        "bloom_hit",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )
    return (
        checked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
            F.sum(F.col("is_member").cast("long")).alias("n_members"),
            F.sum(
                (F.col("bloom_hit") & ~F.col("is_member")).cast("long")
            ).alias("n_false_positives"),
            # div-safe: greatest(non-members, 1) >= 1
            F.round(
                F.sum((F.col("bloom_hit") & ~F.col("is_member")).cast("long"))
                / F.greatest(
                    F.sum((~F.col("is_member")).cast("long")), F.lit(1)
                ),
                4,
            ).alias("fp_rate"),
        )
        .orderBy("lang")
    )


_BLOOM_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, md5(text) AS key FROM documents
),
member_keys AS (
  SELECT DISTINCT key FROM keyed WHERE doc_id % 2 = 0
),
mpos AS (
  SELECT key,
         {duck_md5_long("key || '#' || CAST(j AS VARCHAR)")}
           % {_BLOOM_BITS} AS pos
  FROM member_keys,
       (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j) js
),
blocks AS (
  SELECT pos // {_BLOOM_BLOCK} AS block,
         bit_or(CAST(POW(2, pos % {_BLOOM_BLOCK}) AS BIGINT)) AS reg
  FROM mpos GROUP BY 1
),
ppos AS (
  SELECT doc_id, lang, key,
         {duck_md5_long("key || '#' || CAST(j AS VARCHAR)")}
           % {_BLOOM_BITS} AS pos
  FROM keyed,
       (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j) js
),
probe AS (
  SELECT doc_id, lang, key,
         MIN(CASE WHEN (COALESCE(b.reg, 0)
                        & CAST(POW(2, pos % {_BLOOM_BLOCK}) AS BIGINT)) <> 0
                  THEN 1 ELSE 0 END) = 1 AS bloom_hit
  FROM ppos LEFT JOIN blocks b ON b.block = pos // {_BLOOM_BLOCK}
  GROUP BY doc_id, lang, key
),
checked AS (
  SELECT p.lang, p.bloom_hit,
         (m.key IS NOT NULL) AS is_member
  FROM probe p LEFT JOIN member_keys m ON m.key = p.key
)
SELECT lang,
       COUNT(*) AS n_probed,
       CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_hits,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_members,
       CAST(SUM(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives,
       -- div-safe: GREATEST(non-members, 1) >= 1
       ROUND(SUM(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
             / CAST(GREATEST(SUM(CASE WHEN is_member THEN 0 ELSE 1 END), 1)
                    AS DOUBLE), 4) AS fp_rate
FROM checked
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# Gear-hash content-defined chunking (r15): the boundary layer of
# blob-level dedup stores (restic/casync/LBFS lineage, FastCDC's gear
# rolling hash) — boundaries follow CONTENT, so an insertion early in a
# blob re-chunks O(1) chunks instead of shifting every fixed-size block.
# --------------------------------------------------------------------------

#: cut rule: 5 high bits of the rolling hash all zero — avg 32-byte chunks
#: on this corpus (docs are ~300 bytes).
_CDC_SHIFT, _CDC_MASK = 59, 31
_CDC_MOD = 1 << 64
#: bounded modulus for the per-source chunk-hash census.
_CDC_HASH_MOD = 1000003


def _gear_table() -> list[int]:
    import hashlib

    return [
        int.from_bytes(
            hashlib.md5(f"gear-{i}".encode()).digest()[:8], "big"
        )
        for i in range(256)
    ]


#: 64-bit gear values (md5-derived, deterministic at import). 16-bit gear
#: was measured at a 1/6 cut rate on this corpus (terms at shift >= 49
#: lose their top bits to the modulus, starving bits 59..63 of entropy);
#: full-width gear lands at the textbook 1/32. The oracle replays terms
#: mod 2^64 via a hi/lo 32-bit split so every intermediate fits int128:
#: max product (2^32-1)*2^95 = 2^127 - 2^95 < huge_int max.
_GEAR = _gear_table()


def _cdc_cuts(data: bytes) -> list[int]:
    """Boundary positions (1-based, exclusive of the final byte) under the
    gear recurrence ``h = ((h << 1) + gear[b]) mod 2^64`` with a cut after
    byte i when the 5 bits at 59..63 are all zero. Because the shift ages
    a byte's influence out of the modulus after 64 steps, h at i equals
    the 64-byte windowed sum ``Σ_k gear[b_{i-k}]·2^k mod 2^64`` — the
    closed form the DuckDB oracle replays without recursion."""
    h, cuts = 0, []
    for i, b in enumerate(data, start=1):
        h = ((h << 1) + _GEAR[b]) % _CDC_MOD
        if i < len(data) and (h >> _CDC_SHIFT) & _CDC_MASK == 0:
            cuts.append(i)
    return cuts


def _cdc_chunks(doc_id: int, hx: str) -> list[tuple[int, int, int]]:
    """``(doc_id, start, size)`` of each chunk of the hex-encoded bytes."""
    data = bytes.fromhex(hx)
    bounds = [0] + _cdc_cuts(data) + ([len(data)] if data else [])
    return [(doc_id, a, b - a) for a, b in zip(bounds, bounds[1:])]


def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING census — the storage-dedup primitive for
    multimodal blobs (here exercised on document bytes): gear-hash cut
    positions from the Arrow kernel (integers only — chunk CONTENT never
    leaves the JVM), chunk payloads sliced JVM-side from the hex-encoded
    bytes, chunk identity via the portable md5 ring. Census per source:
    byte/chunk conservation, exact distinct-chunk count (the dedup-store
    size), max chunk, and the bounded chunk-hash checksum the oracle must
    reproduce — any boundary slip anywhere diverges it.

    At 100 TB this is the pattern for binary-payload dedup: the kernel
    emits bounded (blob_id, start, size) manifests, slicing + hashing
    stay JVM-side, and the distinct-chunk census is one exact groupBy
    (or a sketch at extreme cardinality). The shift-invariance property
    — an early insertion re-chunks O(1) chunks — is pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.hex(F.encode("text", "UTF-8")).alias("hx")
    )

    manifests = _map_rows(
        docs.select("doc_id", "hx"),
        "doc_id bigint, start long, size long",
        _cdc_chunks,
    )
    chunk_hex = F.substring(
        F.col("hx"), (F.col("start") * 2 + 1).cast("int"),
        (F.col("size") * 2).cast("int"),
    )
    chunks = manifests.join(docs, "doc_id").select(
        "source", "size", md5_long(chunk_hex).alias("chash")
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("size").alias("n_bytes"),
            F.countDistinct("chash").alias("n_distinct_chunks"),
            F.max("size").alias("max_chunk_bytes"),
            F.sum(F.col("chash") % _CDC_HASH_MOD).alias("chunk_hash_sum"),
        )
        .orderBy("source")
    )


def _cdc_oracle() -> str:
    # gear split into 32-bit halves so every oracle product is an EXACT
    # int128: glo*2^k (< 2^95) and ghi*2^(k+32) (< 2^127), each reduced
    # mod 2^64 before the 128-term sum (< 2^71).
    gear_vals = ",".join(
        f"({i},{g >> 32},{g & 0xFFFFFFFF})" for i, g in enumerate(_GEAR)
    )
    hex_vals = ",".join(f"('{i:02X}',{i})" for i in range(256))
    pow2_vals = ",".join(
        f"({k},{1 << k})" for k in range(96)
    )
    return f"""
WITH gear(b, ghi, glo) AS (VALUES {gear_vals}),
hexmap(hx2, bv) AS (VALUES {hex_vals}),
pow2(k, v) AS (SELECT k, CAST(v AS HUGEINT)
               FROM (VALUES {pow2_vals}) t(k, v)),
docs AS (
  SELECT doc_id, source, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS len
  FROM documents
),
bytes AS (
  SELECT d.doc_id, d.source, d.len, idx.i,
         hm.bv AS b
  FROM docs d,
       LATERAL (SELECT unnest(generate_series(1, d.len)) AS i) idx
  JOIN hexmap hm ON hm.hx2 = substr(d.hx, CAST(2 * idx.i - 1 AS BIGINT), 2)
),
-- h at i = Σ_{{k=0..63}} gear[b_(i-k)]·2^k mod 2^64: the gear recurrence's
-- closed 64-byte-window form (older terms are ≡ 0 mod 2^64); per-term
-- exact-int128 reduction via the hi/lo split
hashes AS (
  SELECT cur.doc_id, cur.i, cur.len,
         SUM(
           (g.glo * plo.v) % CAST(18446744073709551616 AS HUGEINT)
           + (g.ghi * phi.v) % CAST(18446744073709551616 AS HUGEINT)
         ) % CAST(18446744073709551616 AS HUGEINT) AS h
  FROM bytes cur
  JOIN bytes prev
    ON prev.doc_id = cur.doc_id
   AND prev.i BETWEEN cur.i - 63 AND cur.i
  JOIN gear g ON g.b = prev.b
  JOIN pow2 plo ON plo.k = cur.i - prev.i
  JOIN pow2 phi ON phi.k = cur.i - prev.i + 32
  GROUP BY cur.doc_id, cur.i, cur.len
),
cuts AS (
  SELECT h.doc_id, h.i FROM hashes h
  JOIN pow2 ps ON ps.k = {_CDC_SHIFT}
  WHERE h.i < h.len AND (h.h // ps.v) % 32 = 0
),
bounds AS (
  SELECT doc_id, 0 AS e FROM docs WHERE len > 0
  UNION ALL SELECT doc_id, i FROM cuts
  UNION ALL SELECT doc_id, len FROM docs WHERE len > 0
),
chunks AS (
  SELECT b.doc_id, d.source,
         LAG(b.e) OVER (PARTITION BY b.doc_id ORDER BY b.e) AS start,
         b.e - LAG(b.e) OVER (PARTITION BY b.doc_id ORDER BY b.e) AS size,
         d.hx
  FROM bounds b JOIN docs d ON d.doc_id = b.doc_id
),
hashed AS (
  SELECT source, size,
         {duck_md5_long("substr(hx, CAST(2 * start + 1 AS BIGINT), CAST(2 * size AS BIGINT))")} AS chash
  FROM chunks WHERE start IS NOT NULL
)
SELECT source,
       COUNT(*) AS n_chunks,
       CAST(SUM(size) AS BIGINT) AS n_bytes,
       CAST(COUNT(DISTINCT chash) AS BIGINT) AS n_distinct_chunks,
       CAST(MAX(size) AS BIGINT) AS max_chunk_bytes,
       CAST(SUM(chash % {_CDC_HASH_MOD}) AS BIGINT) AS chunk_hash_sum
FROM hashed
GROUP BY source
ORDER BY source
"""

# --------------------------------------------------------------------------
# True suffix-array ExactSubstr dedup (r16): distributed prefix doubling.
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") mark every token position covered by a >= 50-token substring
# that occurs more than once in the corpus. Unlike the fixed-n-gram
# approximation in dedup_substring_spans above, this builds the TRUE
# suffix ranking by prefix doubling, so span boundaries are exact for
# arbitrarily long duplicates, not quantized to gram width.
# --------------------------------------------------------------------------

#: bounded planted corpus: the first _SA_DOCS docs at ANY sf (fixed-size
#: input — the operator certifies the algorithm; production would feed the
#: full corpus through the identical plan).
_SA_DOCS = 120
#: per-doc token cap — bounds every in-doc LCP below _SA_MAX_K.
_SA_TOK_CAP = 96
#: planted twins: every doc with doc_id % MOD == RES contributes a copy of
#: tokens[OFF+1 .. OFF+LEN] (1-based), re-keyed +_DUP_OFFSET — a known
#: duplicated span with exact, assertable boundaries.
_SA_TWIN_MOD, _SA_TWIN_RES = 4, 1
_SA_TWIN_OFF, _SA_TWIN_LEN = 3, 60
#: ExactSubstr threshold (Lee et al. use 50 BPE tokens).
_SA_MIN_SPAN = 50
#: doubling horizon: one past the longest possible LCP (96), so the final
#: ranking is total and the LCP lifting is exact, never saturated.
_SA_MAX_K = 128
#: range-partition fan for the sharded dense rank.
_SA_RANK_PARTS = 8


def _sa_dense_rank(df: DataFrame, cols: list[str], pid_col, out: str) -> DataFrame:
    """Distributed dense rank over the FULL (possibly tied) frame with no
    global sort and no unpartitioned data window: shard by ``pid_col`` — a
    DETERMINISTIC range-id expression aligned with the ordering of ``cols``
    (equal keys share a shard id, shard ids ascend with the keys) —
    dense_rank within each shard, then add per-shard DISTINCT-count
    offsets, a bounded frame of one row per shard. This is the
    'sort-by-(rank, next-rank)' step of prefix doubling in its cluster
    shape. The arithmetic shard id replaces ``repartitionByRange``, whose
    RangePartitioner pays a whole extra SAMPLING pass over the input per
    invocation; here the shard boundaries are pure row-local arithmetic,
    so ranking is a single exchange-window-join plan (one action when the
    caller materializes it)."""
    pid = df.withColumn("_pid", pid_col)
    counts = pid.groupBy("_pid").agg(
        F.count_distinct(*[F.col(c) for c in cols]).alias("_n")
    )
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off")
    )
    wloc = Window.partitionBy("_pid").orderBy(*cols)
    return (
        pid.withColumn("_dr", F.dense_rank().over(wloc))
        .join(F.broadcast(offs), "_pid")
        .withColumn(out, F.col("_dr") + F.col("_off"))
        .drop("_pid", "_dr", "_off")
    )


def _sa_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tk): capped base docs ∪ planted twin slices, each token
    list terminated by a per-doc-unique separator token so no suffix
    comparison ever crosses a document boundary (and all suffixes are
    pairwise distinct)."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _SA_DOCS)
        .select(
            "doc_id", F.slice(tokens("text"), 1, _SA_TOK_CAP).alias("tk")
        )
    )
    twins = base.filter(
        F.col("doc_id") % _SA_TWIN_MOD == _SA_TWIN_RES
    ).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
        F.slice("tk", _SA_TWIN_OFF + 1, _SA_TWIN_LEN).alias("tk"),
    )
    return base.unionByName(twins).select(
        "doc_id",
        F.concat(
            "tk",
            F.array(
                F.concat(F.lit("\x01"), F.col("doc_id").cast("string"))
            ),
        ).alias("tk"),
    )


def dedup_exact_substr_suffix_array(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SUFFIX-ARRAY ExactSubstr dedup (Lee et al. 2022 fidelity): build
    the true suffix ranking of a bounded planted corpus by DISTRIBUTED
    PREFIX DOUBLING — seeded at k=32 with bounded O(1) per-row window
    keys (the DC3 seed trade, sized so rounds-to-{maxk} is 1-2 global
    barriers), each round a union-fold rank-pair attach + the sharded
    dense rank of :func:`_sa_dense_rank` (never a global sort,
    unpartitioned data window, or sampling pass; rounds early-exit as
    soon as ranks are total — every LCP is then provably below the
    reached k) — then recover every MAXIMAL duplicated span of
    >= {minspan} tokens: LCPs between suffix-array neighbors via binary
    lifting over the retained rank tables and seed windows, dup_len(p) =
    max LCP with either neighbor (the longest prefix of suffix p
    occurring anywhere else), and positions with dup_len >= {minspan}
    merged gaps-and-islands into exact-boundary spans per doc. Planted
    twins (tokens [{off1}..{off2}] of every doc_id % {mod} == {res} doc)
    must surface as exactly one full-width span on both the twin and its
    source.

    Scale shape: every round is explode-free and all-pairs-free — a
    union-fold on gpos plus the arithmetically-sharded rank whose only
    driver-side data is one row per shard; state per round is one
    (gpos, rank) row per corpus token, the same blocked-recursion
    discipline as PageRank/k-core. LCP lifting is a constant number of
    batched equi-joins, not per-pair loops.
    """
    _toks, spans = _sa_span_table(spark, sf_dir)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.col("e") - F.col("s")).cast("long").alias("dup_tokens"),
            F.max(F.col("e") - F.col("s")).cast("long").alias("max_span"),
            F.sum(F.col("s") * 131071 + F.col("e"))
            .cast("long")
            .alias("span_hash"),
        )
        .orderBy("doc_id")
    )


def _sa_span_table(spark: SparkSession, sf_dir: str):
    """The shared ExactSubstr machinery: returns ``(toks, spans)`` —
    the positioned token table and the maximal duplicated spans
    ``(doc_id, s, e)`` recovered by prefix doubling + LCP lifting (see
    :func:`dedup_exact_substr_suffix_array` for the algorithm and scale
    notes)."""
    docs = _sa_corpus(spark, sf_dir)
    sizes = docs.groupBy("doc_id").agg(F.max(F.size("tk")).alias("n"))
    wdoc = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = sizes.select(
        "doc_id", F.coalesce(F.sum("n").over(wdoc), F.lit(0)).alias("off")
    )
    # Per-suffix SEED KEYS ride along with each positioned token: the
    # ≤ {16,32}-token within-doc windows starting at the position — a
    # bounded O(1) payload per row, the same trade DC3 makes with triples,
    # scaled up because at cluster scale every doubling ROUND is a global
    # barrier. The per-doc-unique terminator token makes these provably
    # equivalent to the cross-doc windows classic doubling compares — two
    # windows from different positions can only be equal when neither
    # contains a terminator (a terminator occurs ONCE in the corpus, so
    # equal arrays containing one force equal positions) — which lets the
    # doubling START at k=32 (1-2 rounds to totality instead of 6) and the
    # lifting test window equality directly at levels 32/16, finishing the
    # <16 residual with one element-wise window compare.
    toks, seen = materialize(
        docs.join(F.broadcast(offs), "doc_id")
        .select("doc_id", "tk", "off", F.posexplode("tk").alias("p", "token"))
        .select(
            "doc_id",
            (F.col("p") + 1).alias("dpos"),
            (F.col("off") + F.col("p") + 1).alias("gpos"),
            "token",
            F.slice("tk", F.col("p") + 1, 16).alias("pref16"),
            F.slice("tk", F.col("p") + 1, 32).alias("pref32"),
        ),
        n=F.count(F.lit(1)),
    )
    n_sfx = seen["n"]
    # Every frame the doubling/lifting loops touch is one row per corpus
    # token, so the whole fixed-point section runs under the shared
    # bounded-iteration pin (operators.bounded_iteration — the graph-loop
    # discipline): shuffle partitions derived from the measured token
    # count, restored after. The corpus-scale tokenize above is
    # checkpointed at full parallelism BEFORE the pin.
    with bounded_iteration(toks.sparkSession, n_sfx):
        # seed ranking at k=32: dense rank of the 32-token windows, sharded
        # by the window's leading character (shard ids ascend with the
        # array order because the first token is the major key).
        cur = materialize(
            _sa_dense_rank(
                toks.select("gpos", "token", "pref32"),
                ["pref32"],
                F.ascii("token"),
                "r",
            ).select("gpos", F.col("r").alias("rank"))
        )
        tables = {32: cur}
        k = 32
        while k < _SA_MAX_K:
            # rank_2k(g) keys on (rank_k(g), rank_k(g+k)). The shifted rank
            # is attached WITHOUT a join: every checkpoint row is emitted
            # once as itself and once as a donor to position g-k, and one
            # group-by per position folds the pair back together (rows
            # lacking a donor are corpus-tail positions → sentinel -1;
            # donor rows below position 1 have no home row and drop out).
            home = cur.select(
                "gpos",
                F.col("rank").alias("r1"),
                F.lit(None).cast("long").alias("r2"),
            )
            donor = cur.select(
                (F.col("gpos") - k).alias("gpos"),
                F.lit(None).cast("long").alias("r1"),
                F.col("rank").alias("r2"),
            )
            paired = (
                home.unionByName(donor)
                .groupBy("gpos")
                .agg(
                    F.max("r1").alias("rank"),
                    F.coalesce(F.max("r2"), F.lit(-1)).alias("nrank"),
                )
                .filter(F.col("rank").isNotNull())
            )
            # ties-aware dense rank directly over the full paired frame
            # (identical rank values to a distinct → rank → join-back
            # shape, minus the distinct exchange and the join), sharded by
            # arithmetic on the dense major key — no sampling pass.
            cur, seen = materialize(
                _sa_dense_rank(
                    paired,
                    ["rank", "nrank"],
                    # div-safe: n_sfx >= 1 (non-empty corpus), a Python literal
                    F.expr(f"((rank - 1) * {_SA_RANK_PARTS}) div {n_sfx}"),
                    "nr",
                ).select("gpos", F.col("nr").alias("rank")),
                top=F.max("rank"),
            )
            k *= 2
            tables[k] = cur
            # early exit (sound, not just fast): ranks total at k means
            # every k-token prefix is unique, so every LCP < k and the
            # remaining doubling rounds AND the lifting levels >= k are
            # no-ops. The checkpoint's own job observed the top rank.
            if seen["top"] == n_sfx:
                break
        # cur = rank_k: total order (every LCP < k), so the dense rank IS
        # the suffix-array index; neighbors are rank i / i+1.
        right = cur.select(
            (F.col("rank") - 1).alias("rank"), F.col("gpos").alias("b")
        )
        pairs = (
            cur.select("rank", F.col("gpos").alias("a"))
            .join(right, "rank")
            .select("a", "b", F.lit(0).alias("lcp"))
        )
        kk = k // 2  # every LCP < k, so higher lifting levels are no-ops
        while kk >= 16:
            if kk in tables:
                t = tables[kk].select("gpos", F.col("rank").alias("_r"))
            else:
                # kk = 16: window equality tested directly on the seed
                # arrays (exact — see the seed-key note above)
                t = toks.select("gpos", F.col("pref16").alias("_r"))
            ta = t.select(
                F.col("gpos").alias("_ga"), F.col("_r").alias("_ra")
            )
            tb = t.select(
                F.col("gpos").alias("_gb"), F.col("_r").alias("_rb")
            )
            pairs = (
                pairs.join(
                    ta, F.col("a") + F.col("lcp") == F.col("_ga"), "left"
                )
                .join(tb, F.col("b") + F.col("lcp") == F.col("_gb"), "left")
                .select(
                    "a",
                    "b",
                    (
                        F.col("lcp")
                        + F.when(
                            F.col("_ra").isNotNull()
                            & (F.col("_ra") == F.col("_rb")),
                            F.lit(kk),
                        ).otherwise(F.lit(0))
                    ).alias("lcp"),
                )
            )
            kk //= 2
        # Final level: after lifting through 16 the residual LCP is < 16,
        # so it is the common-prefix length of the two 16-token seed
        # windows at (a+lcp, b+lcp) — one element-wise compare replaces
        # the four remaining join levels (8, 4, 2, 1). A mismatch always
        # exists inside the windows for a ≠ b (terminator-uniqueness, see
        # the seed-key note); the fallbacks below are belt-and-braces,
        # not reachable.
        fa = toks.select(
            F.col("gpos").alias("_ga"), F.col("pref16").alias("_pa")
        )
        fb = toks.select(
            F.col("gpos").alias("_gb"), F.col("pref16").alias("_pb")
        )
        mism = F.array_position(
            F.zip_with(
                "_pa", "_pb", lambda x, y: F.coalesce(x == y, F.lit(False))
            ),
            F.lit(False),
        )
        resid = F.when(mism > 0, mism - 1).otherwise(
            F.least(F.size("_pa"), F.size("_pb"))
        )
        pairs = materialize(
            pairs.join(
                fa, F.col("a") + F.col("lcp") == F.col("_ga"), "left"
            )
            .join(fb, F.col("b") + F.col("lcp") == F.col("_gb"), "left")
            .select(
                "a",
                "b",
                (F.col("lcp") + F.coalesce(resid, F.lit(0))).alias("lcp"),
            )
        )
    sides = pairs.select(F.col("a").alias("gpos"), "lcp").unionByName(
        pairs.select(F.col("b").alias("gpos"), "lcp")
    )
    dup = sides.groupBy("gpos").agg(F.max("lcp").alias("dup_len"))
    flagged = (
        dup.filter(F.col("dup_len") >= _SA_MIN_SPAN)
        .join(toks, "gpos")
        .select(
            "doc_id",
            F.col("dpos").alias("pos"),
            (F.col("dpos") + F.col("dup_len")).alias("end"),
        )
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "new_island",
        F.when(
            F.col("pos") > F.coalesce(F.max("end").over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )
    return toks, spans


dedup_exact_substr_suffix_array.__doc__ = (
    dedup_exact_substr_suffix_array.__doc__.format(
        maxk=_SA_MAX_K,
        minspan=_SA_MIN_SPAN,
        off1=_SA_TWIN_OFF + 1,
        off2=_SA_TWIN_OFF + _SA_TWIN_LEN,
        mod=_SA_TWIN_MOD,
        res=_SA_TWIN_RES,
    )
)

# Oracle: DuckDB rebuilds the identical corpus, sorts the CAPPED suffix
# lists directly (cap {_SA_MAX_K} > every possible LCP, so capped order =
# true order and capped neighbor-LCPs = true LCPs), and replays the same
# dup_len / threshold / gaps-and-islands arithmetic.
_SA_CORE_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         list_slice({_DUCK_TOKENS.format(col='text')}, 1, {_SA_TOK_CAP})
           AS tk
  FROM documents WHERE doc_id < {_SA_DOCS}
),
twins AS (
  SELECT doc_id + {_DUP_OFFSET} AS doc_id,
         list_slice(tk, {_SA_TWIN_OFF + 1},
                    {_SA_TWIN_OFF + _SA_TWIN_LEN}) AS tk
  FROM base WHERE doc_id % {_SA_TWIN_MOD} = {_SA_TWIN_RES}
),
docs AS (
  SELECT doc_id, list_append(tk, chr(1) || CAST(doc_id AS VARCHAR)) AS tk
  FROM (SELECT * FROM base UNION ALL SELECT * FROM twins)
),
offs AS (
  SELECT doc_id, tk,
         COALESCE(SUM(len(tk)) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM docs
),
toks AS (
  SELECT doc_id, i AS dpos, off + i AS gpos, tk[i] AS token
  FROM offs, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) ix
),
corpus AS (SELECT list(token ORDER BY gpos) AS arr FROM toks),
sfx AS (
  SELECT gpos, list_slice(arr, gpos, gpos + {_SA_MAX_K - 1}) AS s
  FROM toks, corpus
),
sa AS (SELECT gpos, s, ROW_NUMBER() OVER (ORDER BY s) AS idx FROM sfx),
pairs AS (
  SELECT x.gpos AS a, y.gpos AS b, x.s AS sx, y.s AS sy
  FROM sa x JOIN sa y ON y.idx = x.idx + 1
),
lcps AS (
  SELECT a, b,
         COALESCE(list_position(list_transform(
             generate_series(1, least(len(sx), len(sy))),
             i -> sx[i] = sy[i]), false),
           least(len(sx), len(sy)) + 1) - 1 AS lcp
  FROM pairs
),
dl AS (
  SELECT gpos, MAX(lcp) AS dup_len FROM (
    SELECT a AS gpos, lcp FROM lcps
    UNION ALL SELECT b AS gpos, lcp FROM lcps
  ) GROUP BY gpos
),
flagged AS (
  SELECT t.doc_id, t.dpos AS pos, t.dpos + d.dup_len AS e
  FROM dl d JOIN toks t ON t.gpos = d.gpos
  WHERE d.dup_len >= {_SA_MIN_SPAN}
),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM flagged
),
isl2 AS (
  SELECT doc_id, pos, e,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e
  FROM isl2 GROUP BY doc_id, island
)"""

_SA_SQL = _SA_CORE_SQL + """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s) AS BIGINT) AS dup_tokens,
       CAST(MAX(e - s) AS BIGINT) AS max_span,
       CAST(SUM(s * 131071 + e) AS BIGINT) AS span_hash
FROM spans GROUP BY doc_id ORDER BY doc_id
"""

#: bounded modulus for the removal ledger's exposed content key.
_SA_HASH_MOD = 1000003


def dedup_exact_substr_removal_ledger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ExactSubstr REMOVAL ledger — the APPLY step of Lee et al. 2022
    (the census above finds duplicated spans; real pipelines then remove
    ALL BUT ONE occurrence): group the maximal spans by their exact token
    CONTENT (same md5 the sketches use — two spans are occurrences of
    the same duplicate iff their token sequences match), keep the
    canonical occurrence (smallest ``(doc_id, start)``), and bill the
    rest for deletion. One row per duplicate cluster: the keeper's
    coordinates, span width, occurrence count, and the exact token count
    removal reclaims — the keep-one guarantee made auditable (every
    cluster retains exactly one occurrence by construction).

    Scale shape: content hashing joins the BOUNDED span table back to the
    positioned tokens (spans per doc are few; the join is doc-equi +
    range filter), and clustering is one groupBy on the content hash —
    never a span×span comparison."""
    toks, spans = _sa_span_table(spark, sf_dir)
    span_tok = spans.join(
        toks.select("doc_id", "dpos", "token"), "doc_id"
    ).filter(
        (F.col("dpos") >= F.col("s")) & (F.col("dpos") < F.col("e"))
    )
    content = span_tok.groupBy("doc_id", "s", "e").agg(
        md5_long(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dpos", "token"))
                    ),
                    lambda st: st["token"],
                ),
                " ",
            )
        ).alias("h")
    )
    return (
        content.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "s")).alias("k"),
            F.max(F.col("e") - F.col("s")).alias("w"),
        )
        .select(
            F.col("k.doc_id").cast("long").alias("keeper_doc"),
            F.col("k.s").cast("long").alias("keeper_pos"),
            F.col("w").cast("long").alias("span_tokens"),
            F.col("n_occ").cast("long").alias("n_occurrences"),
            ((F.col("n_occ") - 1) * F.col("w"))
            .cast("long")
            .alias("removed_tokens"),
            (F.col("h") % _SA_HASH_MOD).cast("long").alias("content_key"),
        )
        .orderBy("keeper_doc", "keeper_pos")
    )


_SA_REMOVAL_SQL = _SA_CORE_SQL + f""",
content AS (
  SELECT sp.doc_id, sp.s, sp.e,
         {duck_md5_long(
             "array_to_string(list_slice(arr, o.off + sp.s,"
             " o.off + sp.e - 1), ' ')"
         )} AS h
  FROM spans sp
  JOIN offs o ON o.doc_id = sp.doc_id, corpus
),
ranked AS (
  SELECT doc_id, s, e, h,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS n_occ
  FROM content
)
SELECT CAST(doc_id AS BIGINT) AS keeper_doc,
       CAST(s AS BIGINT) AS keeper_pos,
       CAST(e - s AS BIGINT) AS span_tokens,
       CAST(n_occ AS BIGINT) AS n_occurrences,
       CAST((n_occ - 1) * (e - s) AS BIGINT) AS removed_tokens,
       CAST(h % {_SA_HASH_MOD} AS BIGINT) AS content_key
FROM ranked WHERE rn = 1
ORDER BY keeper_doc, keeper_pos
"""


QUERIES = {
    "dedup_exact_substr_suffix_array": dedup_exact_substr_suffix_array,
    "dedup_exact_substr_removal_ledger": dedup_exact_substr_removal_ledger,
    "dedup_cdc_chunking": dedup_cdc_chunking,
    "sketch_bloom_ingest_filter": sketch_bloom_ingest_filter,
    "sketch_bottomk_distinct": sketch_bottomk_distinct,
    "dedup_common_prefix_census": dedup_common_prefix_census,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_minhash_param_sweep": dedup_minhash_param_sweep,
    "dedup_bbit_minhash": dedup_bbit_minhash,
    "dedup_documents_exact": dedup_documents_exact,
    "dedup_documents_survivors": dedup_documents_survivors,
    "dedup_incremental_batch": dedup_incremental_batch,
    "dedup_documents_minhash": dedup_documents_minhash,
    "dedup_documents_minhash_ml": dedup_documents_minhash_ml,
    "dedup_documents_ngram": dedup_documents_ngram,
    "minhash_estimation_error": minhash_estimation_error,
    "contrastive_pairs_mining": contrastive_pairs_mining,
    "dedup_documents_winnowing": dedup_documents_winnowing,
    "dedup_documents_simhash": dedup_documents_simhash,
    "stream_near_dup_flags": stream_near_dup_flags,
    "dedup_union_priority": dedup_union_priority,
    "dedup_detector_prf": dedup_detector_prf,
}

ORACLES = {
    "dedup_exact_substr_suffix_array": _SA_SQL,
    "dedup_exact_substr_removal_ledger": _SA_REMOVAL_SQL,
    "dedup_cdc_chunking": _cdc_oracle(),
    "sketch_bloom_ingest_filter": _BLOOM_SQL,
    "sketch_bottomk_distinct": _BOTTOMK_SQL,
    "dedup_common_prefix_census": _PREFIX_CENSUS_SQL,
    "dedup_substring_spans": _SPAN_SQL,
    "dedup_minhash_param_sweep": _MINHASH_SWEEP_SQL,
    "dedup_bbit_minhash": _BBIT_SQL,
    "stream_near_dup_flags": _STREAM_FLAGS_SQL,
    "dedup_documents_exact": _EXACT_SQL,
    "dedup_documents_survivors": _SURVIVORS_SQL,
    "dedup_incremental_batch": _INCREMENTAL_SQL,
    "dedup_documents_minhash": _MINHASH_SQL,
    "dedup_documents_ngram": _NGRAM_SQL,
    "minhash_estimation_error": _MINHASH_ERR_SQL,
    "contrastive_pairs_mining": _CONTRASTIVE_SQL,
    "dedup_documents_winnowing": _WINNOW_SQL,
    "dedup_documents_simhash": _SIMHASH_SQL,
    "dedup_union_priority": _UNION_PRIORITY_SQL,
    "dedup_detector_prf": _DETECTOR_PRF_SQL,
}
