"""Training-set assembly operators: context-window chunking, temperature-
scaled source mixing, containment (asymmetric-overlap) dedup, embedding
feature statistics, hard-negative mining, and an iterative k-means
coarse-quantizer — the round-3 additions to the LLM-data-pipeline layer.

Design rules shared with the rest of the repo:
- declarative Catalyst plans only (no Python in any hot path);
- every float that reaches the output or a comparison is rounded at a fixed
  precision shared with the DuckDB oracle, so the exact-value check holds;
- candidate generation / assignment steps are equi-joins or broadcast joins,
  never an unbounded cross product.

100 TB posture notes per operator are on each docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import (
    _dot,
    duck_md5_long,
    materialize,
    md5_long,
)
from datafusion_impl_spark.operators.dedup import (
    _CORPUS_SQL,
    _DUCK_SHINGLES,
    _grouped_pairs,
    _shingles,
    near_dup_corpus,
)
from datafusion_impl_spark.operators.text import (
    _DUCK_TOKENS,
    DUCK_QUALITY_SCORED,
    quality_score,
    tokens,
)
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]

# Context-window chunking: 32-token windows advancing by 24 (8-token overlap
# carries context across boundaries — the usual pre-training layout).
_CHUNK = 32
_STRIDE = 24

# Temperature-scaled mixing: alpha < 1 upsamples small sources
# (multinomial-sampling temperature, as in multilingual pre-training mixes).
_MIX_ALPHA = 0.7
_TOKEN_BUDGET = 1_000_000

# Containment threshold: |A ∩ B| / min(|A|, |B|) — catches docs that are a
# near-subset of a larger doc even when symmetric Jaccard is diluted.
# The DF cap is wider than the n-gram Jaccard operator's (8 vs 4): the
# synthetic corpus draws 3-grams from a small shared vocabulary, so rare
# shingles are rarer than in natural text (measured: every planted near-dup
# pair shares a shingle with DF ≤ 6 at sf0.001 / ≤ 4 at sf0.01; cap 8 gives
# exact planted recall at ~1.6× the candidate volume of cap 4).
_CONTAIN_T = 0.9
_CONTAIN_DF_CAP = 8

_K = 8               # k-means clusters == IVF coarse codebook size
_HARD_NEG_MOD = 50   # vec_id % 50 == 0 → query set for hard-negative mining
_HARD_NEG_K = 3


# --------------------------------------------------------------------------
# 1. Sliding-window context chunking
# --------------------------------------------------------------------------

def _chunk_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunking plan WITHOUT the presentation sort — a pure map over the
    scan (tests assert it is literally Exchange-free)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens("text").alias("tk")).filter(
        F.size("tk") > 0
    )
    n = F.size("tk")
    # number of extra chunks past the first = ceil(max(n - CHUNK, 0) / STRIDE)
    k_max = F.floor(
        (F.greatest(n - F.lit(_CHUNK), F.lit(0)) + F.lit(_STRIDE - 1))
        / F.lit(_STRIDE)
    ).cast("int")
    chunks = toks.select(
        "doc_id",
        "tk",
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * _STRIDE + 1
    piece = F.slice("tk", start, F.lit(_CHUNK))
    return chunks.select(
        "doc_id",
        "chunk_idx",
        start.cast("int").alias("start_token"),
        F.size(piece).alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping fixed-size token windows
    (CHUNK=32, STRIDE=24): chunk k covers tokens [1 + k·STRIDE, …], and the
    last chunk is the first one whose window reaches the end of the doc.

    At 100 TB this is a pure map: tokenize, generate chunk starts with
    ``sequence`` (no shuffle, no window function), explode. Emits the md5 of
    each chunk's text rather than the text itself so downstream exact-dedup
    of chunks is a hash groupBy away and the result stays narrow. The final
    orderBy exists for oracle determinism only."""
    return _chunk_projection(spark, sf_dir).orderBy("doc_id", "chunk_idx")


_CHUNK_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM documents
),
sized AS (
  SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
),
chunks AS (
  SELECT doc_id, tk, n, unnest(generate_series(
           0, (GREATEST(n - {_CHUNK}, 0) + {_STRIDE - 1}) // {_STRIDE})) AS chunk_idx
  FROM sized
)
SELECT doc_id,
       chunk_idx,
       CAST(chunk_idx * {_STRIDE} + 1 AS INTEGER) AS start_token,
       CAST(len(list_slice(tk, chunk_idx * {_STRIDE} + 1,
                           chunk_idx * {_STRIDE} + {_CHUNK})) AS INTEGER) AS chunk_tokens,
       md5(array_to_string(list_slice(tk, chunk_idx * {_STRIDE} + 1,
                                      chunk_idx * {_STRIDE} + {_CHUNK}), ' ')) AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_idx
"""


# --------------------------------------------------------------------------
# 2. Temperature-scaled source mixture
# --------------------------------------------------------------------------

def source_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights with temperature α=0.7 over token mass:
    w_i = t_i^α / Σ t_j^α (upsampling small sources, the standard
    multilingual/multi-source mix), plus the effective epochs each source
    sees under a fixed token budget.

    Scale shape: one groupBy on ``source`` (partial-agg map-side), then the
    per-source frame — one row per source, bounded and tiny at any corpus
    size — is joined to its own one-row total with a broadcast cross join.
    No window over the full corpus, no second scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    per_src = materialize(per_src)
    pw = F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA))
    weighted = per_src.select("source", "n_docs", "n_tokens", pw.alias("pw"))
    total = weighted.agg(
        F.sum("pw").alias("pw_total"), F.sum("n_tokens").alias("tok_total")
    )
    # div-safe: pw/pw_total/tok_total are
    # corpus-wide sums over sources with >= 1 token each (every document
    # carries >= 1 token by the driver corpus contract), so all three
    # denominators are >= 1; n_tokens per source likewise
    w = F.col("pw") / F.col("pw_total")
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # div-safe: tok_total and n_tokens >= 1, see note above
            F.round(F.col("n_tokens") / F.col("tok_total"), 6).alias("raw_share"),
            F.round(w, 6).alias("mix_weight"),
            F.round(w * _TOKEN_BUDGET / F.col("n_tokens"), 4).alias("epochs"),
        )
        .orderBy("source")
    )


_MIX_SQL = rf"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
weighted AS (
  SELECT source, n_docs, n_tokens,
         POW(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}) AS pw
  FROM per_src
),
total AS (SELECT SUM(pw) AS pw_total, SUM(n_tokens) AS tok_total FROM weighted)
SELECT source, n_docs, n_tokens,
       -- div-safe: token sums >= 1 by the non-empty-document corpus
       -- contract (see the Spark twin's note)
       ROUND(n_tokens / tok_total, 6) AS raw_share,
       ROUND(pw / pw_total, 6) AS mix_weight,
       ROUND(pw / pw_total * {_TOKEN_BUDGET} / n_tokens, 4) AS epochs
FROM weighted, total
ORDER BY source
"""


# --------------------------------------------------------------------------
# 3. Containment dedup (asymmetric overlap)
# --------------------------------------------------------------------------

def dedup_documents_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-subset detection: containment |A∩B| / min(|A|,|B|) ≥ 0.9 over
    word-3-gram shingle sets. Complements symmetric Jaccard — a short doc
    embedded verbatim in a much longer one scores ~1.0 here while its
    Jaccard can sit far below any dedup threshold.

    Candidates come from the same rare-shingle inverted index as the n-gram
    Jaccard operator (document frequency ≤ 8 here — twice the Jaccard
    operator's cap, buying recall for the asymmetric short-in-long case at
    ~3× the candidate volume; the DF cap still bounds fan-out, so
    the blocked self-join stays linear in corpus size at 100 TB); containment
    is then computed exactly on candidates only."""
    corpus = near_dup_corpus(spark, sf_dir)
    sh = materialize(_shingles(corpus))
    # DF-capped inverted index as grouped pair expansion (one groupBy
    # replaces the rare-filter + self-join; see dedup._grouped_pairs).
    cand = _grouped_pairs(sh, ["shingle"], cap=_CONTAIN_DF_CAP)
    # Array-packed exact verify (r17, same shape as dedup._exact_jaccard_
    # verify): one aggregation packs each doc's distinct shingles into an
    # array row, candidates attach both arrays by doc-id equi-join, and the
    # intersection count is a codegen'd size(array_intersect(...)) — the
    # explode-join shuffled candidate_volume × shingles_per_doc rows through
    # two exchanges plus a re-aggregation for the same integers.
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("ss"))
    seta = sets.select(F.col("doc_id").alias("da"), F.col("ss").alias("ssa"))
    setb = sets.select(F.col("doc_id").alias("db"), F.col("ss").alias("ssb"))
    i = F.size(F.array_intersect("ssa", "ssb"))
    # div-safe: sets only lists docs with a non-empty shingle set, so
    # LEAST(na, nb) >= 1
    contain = i / F.least(F.size("ssa"), F.size("ssb"))
    return (
        cand.join(seta, "da")
        .join(setb, "db")
        .filter(contain >= _CONTAIN_T)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.size("ssa").cast("long").alias("shingles_a"),
            F.size("ssb").cast("long").alias("shingles_b"),
            F.round(contain, 4).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


_CONTAIN_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
{_DUCK_SHINGLES},
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_CONTAIN_DF_CAP}
),
rsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
  GROUP BY c.da, c.db
)
SELECT da AS doc_a, db AS doc_b, sa.n AS shingles_a, sb.n AS shingles_b,
       -- div-safe: shingle-set sizes are >= 1 (docs without shingles
       -- never enter sizes)
       ROUND(CAST(i AS DOUBLE) / LEAST(sa.n, sb.n), 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
-- div-safe: shingle-set sizes >= 1 (same invariant as the SELECT)
WHERE CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) >= {_CONTAIN_T}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# 4. Per-dimension embedding statistics
# --------------------------------------------------------------------------

def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-wise statistics of the embedding matrix (count / mean / min /
    max per dimension) — the normalization-audit pass a feature store runs
    before standardizing or quantizing vectors.

    One posexplode (64 rows per vector) and one groupBy on ``dim`` — 64
    groups regardless of corpus size, partial aggregation map-side, so the
    shuffle is constant-width at any scale."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    expl = e.select(F.posexplode("v").alias("pos", "val")).select(
        (F.col("pos") + 1).alias("dim"), "val"
    )
    return (
        expl.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 4).alias("mean_val"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("dim")
    )


_DIM_STATS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
expl AS (
  SELECT i AS dim, v[i] AS val
  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) idx
)
SELECT dim, COUNT(*) AS n,
       ROUND(AVG(val), 4) AS mean_val,
       ROUND(MIN(val), 6) AS min_val,
       ROUND(MAX(val), 6) AS max_val
FROM expl
GROUP BY dim
ORDER BY dim
"""


# --------------------------------------------------------------------------
# 5. Hard-negative mining
# --------------------------------------------------------------------------

def _l2(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each query vector (vec_id % 50 = 0), the top-3 most-similar
    vectors carrying a DIFFERENT label — the hard negatives a contrastive
    trainer wants next to each anchor.

    Same scale shape as the exact ANN baseline: broadcast the small query
    side against one corpus scan, drop the arrays before the shuffle, then a
    windowed top-k per query (shuffle volume is score rows, not vectors)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.withColumn("nrm", _l2(F.col("v")))
    q = e.filter(F.col("vec_id") % _HARD_NEG_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    # div-safe: embeddings are unit-norm by data contract
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HARD_NEG_K)
        .select(
            "q_id", "q_label", "neg_id", "neg_label", "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


_HARD_NEG_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
      FROM e WHERE vec_id % {_HARD_NEG_MOD} = 0),
scored AS (
  SELECT q_id, q_label, e.vec_id AS neg_id, e.label AS neg_label,
         ROUND(list_cosine_similarity(qv, v), 6) AS cos_sim
  FROM q, e
  WHERE e.label <> q.q_label
),
ranked AS (
  SELECT q_id, q_label, neg_id, neg_label, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neg_id) AS rn
  FROM scored
)
SELECT q_id, q_label, neg_id, neg_label, cos_sim, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= {_HARD_NEG_K}
ORDER BY q_id, rank
"""


# --------------------------------------------------------------------------
# 6. Iterative k-means coarse quantizer (2 Lloyd rounds)
# --------------------------------------------------------------------------

def _assign(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by cosine. The argmin ranks on a COARSER
    rounding (4 decimals, ties → centroid id) than the reported similarity
    (6 decimals): with independent float evaluation in Spark vs the oracle
    engine, a cosine landing within ~1 ulp of the ranking's rounding
    boundary would flip the argmin nondeterministically — the coarser the
    ranking granularity, the smaller the boundary-landing probability, and
    genuine sub-1e-4 differences resolve deterministically by centroid id
    in both engines."""
    # div-safe: embeddings (and hence centroid means' norms over
    # unit-norm members) are nonzero by the unit-norm data contract
    cos = _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("c_nrm"))
    # struct-max argmax (same (rank_sim desc, cid asc) winner as the rank-1
    # window it replaced): max rank_sim wins, ties resolve to the max
    # NEGATED cid = the minimum cid; (rank_sim, nc) is unique per vector,
    # so the payload fields after it never participate in the comparison.
    # Aggregates map-side instead of exchanging + sorting every scored row.
    return (
        e.crossJoin(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.round(cos, 4).alias("rank_sim"),
                    (-F.col("cid")).alias("nc"),
                    F.col("cid"),
                    F.round(cos, 6).alias("sim"),
                    F.col("v"),
                    F.col("nrm"),
                )
            ).alias("mx")
        )
        .select(
            "vec_id",
            F.col("mx.v").alias("v"),
            F.col("mx.nrm").alias("nrm"),
            F.col("mx.cid").alias("cluster"),
            F.col("mx.sim").alias("sim"),
        )
    )


def _recenter(assign: DataFrame) -> DataFrame:
    """Per-cluster mean vector, rebuilt as an array ordered by dimension.
    Components are rounded to 6 decimals so both engines feed identical
    centroids into the next assignment round (averaging order differs
    between engines at the last ulp; the rounding absorbs it)."""
    per_dim = (
        assign.select("cluster", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
    )
    cent = per_dim.groupBy("cluster").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))),
            lambda s: s.getField("m"),
        ).alias("cv")
    )
    return cent.select(
        F.col("cluster").alias("cid"), "cv", _l2(F.col("cv")).alias("c_nrm")
    )


def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means, two Lloyd rounds, K=8, seeded from the first 8
    vectors (the same deterministic codebook convention as the IVF index):
    assign → re-center → re-assign, then report per-cluster size and mean
    within-cluster similarity — the coarse quantizer that IVF partitioning
    and semantic dedup both sit on.

    Scale shape per round: the centroid table is K rows — always broadcast —
    so assignment is a map-side cross join (no shuffle of the corpus), and
    re-centering is one groupBy on (cluster, dim) with K·DIM groups,
    partial-aggregated map-side. Rounds are a fixed small constant; each
    round's assignment is materialized so the lineage does not double."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    e = materialize(e.withColumn("nrm", _l2(F.col("v"))))
    cent = e.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("c_nrm")
    )
    a1 = materialize(_assign(e, cent))
    a2 = _assign(e, _recenter(a1))
    return (
        a2.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("sim"), 4).alias("avg_sim"),
            F.round(F.min("sim"), 6).alias("min_sim"),
        )
        .orderBy("cluster")
    )


_KMEANS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_K}),
s1 AS (
  SELECT e.vec_id, c.cid,
         ROUND(list_cosine_similarity(e.v, c.cv), 6) AS sim,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                     c.cid) AS rn
  FROM e, cent0 c
),
a1 AS (SELECT vec_id, cid AS cluster FROM s1 WHERE rn = 1),
per_dim AS (
  SELECT a1.cluster, i AS dim, ROUND(AVG(e.v[i]), 6) AS m
  FROM a1 JOIN e USING (vec_id),
       LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS i) idx
  GROUP BY a1.cluster, i
),
cent1 AS (
  SELECT cluster AS cid, list(m ORDER BY dim) AS cv FROM per_dim GROUP BY cluster
),
s2 AS (
  SELECT e.vec_id, c.cid,
         ROUND(list_cosine_similarity(e.v, c.cv), 6) AS sim,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                     c.cid) AS rn
  FROM e, cent1 c
),
a2 AS (SELECT vec_id, cid AS cluster, sim FROM s2 WHERE rn = 1)
SELECT cluster, COUNT(*) AS n_members,
       ROUND(AVG(sim), 4) AS avg_sim,
       ROUND(MIN(sim), 6) AS min_sim
FROM a2
GROUP BY cluster
ORDER BY cluster
"""


# --------------------------------------------------------------------------
# 7. Chunk-level exact dedup (boilerplate / copy-paste span detection)
# --------------------------------------------------------------------------

def dedup_chunks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at CHUNK granularity over the near-dup corpus: sliding
    chunks whose md5 repeats across documents are copy-paste / boilerplate
    spans (document-level dedup misses them when the surrounding text
    differs). Reports each repeated span with its document reach.

    Scale shape: the chunker is a pure map; the repeat detection is one
    groupBy on the chunk md5 — a uniform 128-bit key, skew-free, same
    posture as document-level exact dedup."""
    corpus = near_dup_corpus(spark, sf_dir)
    toks = corpus.select("doc_id", tokens("text").alias("tk")).filter(
        F.size("tk") > 0
    )
    n = F.size("tk")
    k_max = F.floor(
        (F.greatest(n - F.lit(_CHUNK), F.lit(0)) + F.lit(_STRIDE - 1))
        / F.lit(_STRIDE)
    ).cast("int")
    chunks = toks.select(
        "doc_id", "tk", F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_idx")
    )
    piece = F.slice("tk", F.col("chunk_idx") * _STRIDE + 1, F.lit(_CHUNK))
    spans = chunks.select("doc_id", F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"))
    return (
        spans.groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_md5")
    )


_CHUNK_DEDUP_SQL = rf"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM corpus
),
sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(tk, ci * {_STRIDE} + 1,
                                        ci * {_STRIDE} + {_CHUNK}), ' ')) AS chunk_md5
  FROM sized,
       LATERAL (SELECT unnest(generate_series(
         0, (GREATEST(n - {_CHUNK}, 0) + {_STRIDE - 1}) // {_STRIDE})) AS ci) g
)
SELECT chunk_md5, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
FROM chunks
GROUP BY chunk_md5
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY chunk_md5
"""


# --------------------------------------------------------------------------
# 8. Cross-modal source profile (documents ⋈ embeddings)
# --------------------------------------------------------------------------

def source_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding profile via the cross-modal equi-join
    doc_id = vec_id: vector count, mean L2 norm, and the norm of the source
    centroid. A centroid norm far below the mean norm means the source's
    vectors point in scattered directions (dispersion audit before
    clustering or retrieval-index building).

    Scale shape: equi-join on the id (co-partitionable), then per-(source,
    dim) partial aggregation — the shuffle carries source×64 rows, not
    vectors."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    j = docs.join(e, "doc_id")
    norms = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(_l2(F.col("v"))), 4).alias("avg_norm"),
    )
    per_dim = (
        j.select("source", F.posexplode("v").alias("pos", "val"))
        .groupBy("source", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
    )
    cent = per_dim.groupBy("source").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("centroid_norm")
    )
    return (
        norms.join(cent, "source")
        .select(
            "source",
            "n_vecs",
            "avg_norm",
            "centroid_norm",
            # div-safe: avg_norm averages unit norms, = 1 by data contract
            F.round(F.col("centroid_norm") / F.col("avg_norm"), 4).alias("coherence"),
        )
        .orderBy("source")
    )


_SRC_EMB_SQL = f"""
WITH e AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings),
j AS (SELECT d.source, e.v FROM documents d JOIN e USING (doc_id)),
norms AS (
  SELECT source, COUNT(*) AS n_vecs,
         ROUND(AVG(sqrt(list_sum(list_transform(v, x -> x * x)))), 4) AS avg_norm
  FROM j GROUP BY source
),
per_dim AS (
  SELECT source, i AS dim, ROUND(AVG(v[i]), 6) AS m
  FROM j, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) idx
  GROUP BY source, i
),
cent AS (
  SELECT source, ROUND(sqrt(SUM(m * m)), 4) AS centroid_norm
  FROM per_dim GROUP BY source
)
SELECT source, n_vecs, avg_norm, centroid_norm,
       -- div-safe: avg_norm averages unit norms, = 1 by data contract
       ROUND(centroid_norm / avg_norm, 4) AS coherence
FROM norms JOIN cent USING (source)
ORDER BY source
"""


# --------------------------------------------------------------------------
# 9. Quality-curriculum tiers
# --------------------------------------------------------------------------

_TIER_LOW, _TIER_HIGH = 0.5, 0.65  # fixed score cutoffs ≈ corpus terciles


def quality_curriculum_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum tiers by quality score (fixed cutoffs, not quantiles — a
    global ntile would be a single-reducer sort at scale; fixed thresholds
    keep the bucketing a pure map and are how production curricula pin tier
    boundaries across corpus versions): per (tier, lang) doc counts, token
    mass, and mean score — the mix a staged training schedule consumes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    scored = docs.select(
        "lang",
        quality_score().alias("score"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    tier = (
        F.when(F.col("score") < _TIER_LOW, "c_low")
        .when(F.col("score") < _TIER_HIGH, "b_mid")
        .otherwise("a_high")
    )
    return (
        scored.select(tier.alias("tier"), "lang", "score", "n_tokens")
        .groupBy("tier", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("tier", "lang")
    )


_TIERS_SQL = rf"""
WITH scored AS ({DUCK_QUALITY_SCORED}),
tiered AS (
  SELECT CASE WHEN score < {_TIER_LOW} THEN 'c_low'
              WHEN score < {_TIER_HIGH} THEN 'b_mid'
              ELSE 'a_high' END AS tier,
         lang, score,
         len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens
  FROM scored
)
SELECT tier, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(AVG(score), 4) AS avg_score
FROM tiered
GROUP BY tier, lang
ORDER BY tier, lang
"""


# --------------------------------------------------------------------------
# 10. Train→eval split-leakage audit
# --------------------------------------------------------------------------

def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: a val/test document is *leaked* if it
    shares ≥ 2 distinct rare word-5-grams (document frequency ≤ 10) with any
    train document — the same inverted-index blocking as benchmark
    decontamination, but run against the pipeline's own hash-ring split
    (:mod:`.sampling`), which is exactly the audit a release gate wants:
    the split is disjoint by doc_id, but near-duplicate *content* still
    straddles it.

    Scale shape: gram table built once (materialized — it feeds the DF
    filter and both join sides), DF cap bounds the inverted-index fan-out,
    and the final report is a constant-width (split × lang) aggregate."""
    from datafusion_impl_spark.operators.sampling import _bucket, _TRAIN_END, _VAL_END

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    b = _bucket(F.col("doc_id"))
    split = (
        F.when(b < _TRAIN_END, "train").when(b < _VAL_END, "val").otherwise("test")
    )
    docs = docs.withColumn("split", split)
    toks = docs.select("doc_id", "lang", "split", tokens("text").alias("tk")).filter(
        F.size("tk") >= 5
    )
    tk = F.col("tk")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 4),
        lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j) for j in range(5)]),
    )
    g = materialize(
        toks.select("doc_id", "lang", "split", F.explode(grams).alias("gram")).distinct()
    )
    rare = (
        g.groupBy("gram").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 10)
    ).select("gram")
    gr = g.join(rare, "gram")
    ev = gr.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("eval_id"), "lang", "split", "gram"
    )
    trn = gr.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_id"), "gram"
    )
    pairs = (
        ev.join(trn, "gram")
        .groupBy("eval_id", "lang", "split", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    per_eval = pairs.groupBy("eval_id", "lang", "split").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_eval = docs.filter(F.col("split") != "train").groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        n_eval.join(
            per_eval.groupBy("split", "lang").agg(
                F.count(F.lit(1)).alias("n_leaked"),
                F.sum("n_hits").cast("long").alias("n_pairs"),
            ),
            ["split", "lang"],
            "left",
        )
        .select(
            "split",
            "lang",
            "n_docs",
            F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
        )
        .orderBy("split", "lang")
    )


def _leakage_sql() -> str:
    from datafusion_impl_spark.operators.sampling import (
        _duck_bucket,
        _TRAIN_END,
        _VAL_END,
    )

    bucket = _duck_bucket("doc_id")
    return rf"""
WITH d AS (
  SELECT doc_id, lang, text,
         CASE WHEN {bucket} < {_TRAIN_END} THEN 'train'
              WHEN {bucket} < {_VAL_END} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
toks AS (
  SELECT doc_id, lang, split,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM d
),
g AS (
  SELECT DISTINCT doc_id, lang, split,
         unnest(list_transform(generate_series(1, len(tk) - 4),
                i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS gram
  FROM toks WHERE len(tk) >= 5
),
rare AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) <= 10),
gr AS (SELECT g.* FROM g JOIN rare USING (gram)),
pairs AS (
  SELECT e.doc_id AS eval_id, e.lang, e.split, t.doc_id AS train_id,
         COUNT(*) AS n_shared
  FROM gr e JOIN gr t ON e.gram = t.gram
  WHERE e.split <> 'train' AND t.split = 'train'
  GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) >= 2
),
per_eval AS (
  SELECT eval_id, lang, split, COUNT(*) AS n_hits
  FROM pairs GROUP BY 1, 2, 3
),
n_eval AS (
  SELECT split, lang, COUNT(*) AS n_docs FROM d
  WHERE split <> 'train' GROUP BY 1, 2
)
SELECT n_eval.split, n_eval.lang, n_eval.n_docs,
       COALESCE(agg.n_leaked, 0) AS n_leaked,
       CAST(COALESCE(agg.n_pairs, 0) AS BIGINT) AS n_pairs
FROM n_eval
LEFT JOIN (
  SELECT split, lang, COUNT(*) AS n_leaked, SUM(n_hits) AS n_pairs
  FROM per_eval GROUP BY 1, 2
) agg USING (split, lang)
ORDER BY split, lang
"""


def doc_length_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document lengths ACROSS sources: each doc's
    length is replaced by the global length at the same within-source
    quantile — the standard distribution-matching transform that removes
    per-source length bias before mixing (a web source's inflated tail no
    longer skews a uniform token budget).

    Discrete construction, exactly replayable cross-engine: within-source
    ``percent_rank`` over (length, doc_id) → index ``round(p·(N−1))+1`` into
    the globally sorted length array. The global array here is one
    collect_list aggregate (bounded corpus); at 100 TB the array is replaced
    by a fixed-size equi-spaced quantile sketch (percentile_approx over the
    same plan), which this operator's shape already accommodates — the
    per-row work is one broadcast lookup either way. Output samples every
    10th doc; n_chars is the testdata's own length column."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    g = docs.agg(
        F.sort_array(F.collect_list("n_chars")).alias("garr"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("p", F.percent_rank().over(w))
    idx = (F.round(F.col("p") * (F.col("n") - 1)) + 1).cast("int")
    return (
        ranked.crossJoin(F.broadcast(g))
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("p", 6).alias("src_quantile"),
            F.element_at("garr", idx).cast("long").alias("norm_chars"),
        )
        .orderBy("doc_id")
    )


_QNORM_SQL = """
WITH g AS (
  SELECT list(n_chars ORDER BY n_chars) AS garr, COUNT(*) AS n FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars,
         PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS p
  FROM documents
)
SELECT doc_id, source, n_chars,
       ROUND(p, 6) AS src_quantile,
       CAST(garr[CAST(ROUND(p * (n - 1), 0) AS INTEGER) + 1] AS BIGINT) AS norm_chars
FROM ranked, g
WHERE doc_id % 10 = 0
ORDER BY doc_id
"""


#: candidate context lengths for the truncation/packing trade-off sweep.
_CTX_SWEEP = (512, 1024, 2048, 4096)


def context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length selection sweep: for each candidate sequence length,
    what fraction of documents get truncated, what fraction of corpus
    tokens is lost to truncation, and the information-theoretic lower
    bound on pack count (``ceil(kept_tokens / ctx)``) — the one-pass
    numbers that decide the ctx-vs-waste trade before committing to a
    packing run (the committed layout itself is
    :func:`pack_documents_by_token_budget`).

    Plan: ONE per-document token count (a map over the scan), broadcast
    cross-joined with the 4-row ctx spine, one aggregate — the corpus is
    scanned once for all sweep points, and every reported ratio divides
    exact integer sums."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.size(tokens("text")).alias("n")).filter(F.col("n") > 0)
    ctxs = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in _CTX_SWEEP])).alias("ctx")
    )
    j = toks.crossJoin(F.broadcast(ctxs))
    return (
        j.groupBy("ctx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum((F.col("n") > F.col("ctx")).cast("long"))
            .cast("long")
            .alias("n_truncated"),
            F.sum(F.greatest(F.col("n") - F.col("ctx"), F.lit(0)))
            .cast("long")
            .alias("tokens_lost"),
            F.sum(F.least(F.col("n"), F.col("ctx")))
            .cast("long")
            .alias("tokens_kept"),
        )
        .select(
            F.col("ctx").cast("int").alias("ctx"),
            "n_docs",
            "total_tokens",
            # div-safe: n_docs is a GROUP BY count >= 1;
            # total_tokens >= n_docs (rows pre-filtered to n > 0); ctx is
            # a positive literal from _CTX_SWEEP
            F.round(F.col("n_truncated") / F.col("n_docs"), 6).alias(
                "frac_docs_truncated"
            ),
            # div-safe: total_tokens >= n_docs >= 1 (rows pre-filtered n>0)
            F.round(F.col("tokens_lost") / F.col("total_tokens"), 6).alias(
                "frac_tokens_lost"
            ),
            # div-safe: ctx is a positive literal from _CTX_SWEEP
            F.ceil(F.col("tokens_kept") / F.col("ctx"))
            .cast("long")
            .alias("min_packs"),
        )
        .orderBy("ctx")
    )


def _ctx_sweep_oracle() -> str:
    ctx_values = ", ".join(f"({c})" for c in _CTX_SWEEP)
    return rf"""
WITH toks AS (
  SELECT len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n
  FROM documents
),
ctxs(ctx) AS (VALUES {ctx_values}),
j AS (SELECT n, ctx FROM toks, ctxs WHERE n > 0)
SELECT CAST(ctx AS INTEGER) AS ctx,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(COUNT(*) AS DOUBLE), 6) AS frac_docs_truncated,
       ROUND(CAST(SUM(GREATEST(n - ctx, 0)) AS BIGINT)
             / CAST(SUM(n) AS DOUBLE), 6) AS frac_tokens_lost,
       CAST(CEIL(CAST(SUM(LEAST(n, ctx)) AS BIGINT)
                 / CAST(ctx AS DOUBLE)) AS BIGINT) AS min_packs
FROM j
GROUP BY ctx
ORDER BY ctx
"""


_CTX_SWEEP_SQL = _ctx_sweep_oracle()


# --------------------------------------------------------------------------
# Span-corruption (T5-style) masking statistics
# --------------------------------------------------------------------------

#: a span STARTS at ~1-in-this token positions (hash-gated, deterministic).
_MASK_START_MOD = 20
#: fixed span length (tokens) — the mean-span-3 T5 configuration, with the
#: hash ring supplying the randomness instead of an RNG.
_MASK_SPAN = 3


def span_corruption_mask_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption (T5/UL2) MASK CONSTRUCTION statistics: span starts
    are selected by the portable hash ring (``md5(doc_id:pos) % 20 == 0`` —
    deterministic under re-runs, re-partitioning, and engine swaps, the
    same reproducibility contract as every sampler in this repo), each
    start covers ``_MASK_SPAN`` tokens clipped at the document end, and
    overlapping spans MERGE (maximal runs counted via a per-doc
    gaps-and-islands pass over the covered positions). Per source: masked
    token mass and fraction, merged-span count, and mean merged-span
    length — the knobs (corruption rate r, mean span length) an
    infilling-objective pipeline must audit before training.

    Scale shape: one scan + explode to token positions, a hash-gated
    filter, a bounded 3x explode of the starts, one per-doc window over
    COVERED positions only (a ~15% slice), and a 20-row rollup."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(tokens("text")).alias("p", "tok"),
    )
    per_doc_n = toks.groupBy("doc_id").agg(F.max("p").alias("max_p"))
    start_hash = md5_long(
        F.concat_ws(":", F.col("doc_id"), F.col("p"), F.lit("mask"))
    )
    starts = toks.filter(start_hash % _MASK_START_MOD == 0).select(
        "doc_id", "source", "p"
    )
    covered = (
        starts.join(per_doc_n, "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.col("p"),
                    F.least(F.col("p") + _MASK_SPAN - 1, F.col("max_p")),
                )
            ).alias("cp"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("cp")
    runs = covered.withColumn("prev", F.lag("cp").over(w)).withColumn(
        "is_run_start",
        (F.col("prev").isNull() | (F.col("cp") - F.col("prev") != 1)).cast(
            "int"
        ),
    )
    per_doc = runs.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("masked"),
        F.sum("is_run_start").alias("n_spans"),
    )
    totals = toks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("masked").cast("long").alias("masked_tokens"),
            F.sum("n_spans").cast("long").alias("n_spans"),
        )
        .join(totals, "source")
        .select(
            "source",
            "n_docs",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            "masked_tokens",
            "n_spans",
            F.round(
                # div-safe: per-source token totals are >= 1
                F.col("masked_tokens") / F.col("total_tokens"), 6
            ).alias("masked_frac"),
            F.round(
                # div-safe: n_spans >= 1 whenever the source has a masked
                # row (per_doc rows exist only with >= 1 covered position,
                # and every covered run contributes >= 1 span)
                F.col("masked_tokens") / F.col("n_spans"), 4
            ).alias("avg_span_len"),
        )
        .orderBy("source")
    )


_SPAN_MASK_SQL = rf"""
WITH toks AS (
  SELECT doc_id, source, i - 1 AS p
  FROM (SELECT doc_id, source, {_DUCK_TOKENS.format(col='text')} AS t
        FROM documents) d,
       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) idx
),
per_doc_n AS (SELECT doc_id, MAX(p) AS max_p FROM toks GROUP BY doc_id),
starts AS (
  SELECT doc_id, source, p FROM toks
  WHERE {duck_md5_long("doc_id || ':' || p || ':' || 'mask'")}
        % {_MASK_START_MOD} = 0
),
covered AS (
  SELECT DISTINCT s.doc_id, s.source, cp
  FROM starts s JOIN per_doc_n n USING (doc_id),
       LATERAL (SELECT unnest(generate_series(
                  s.p, LEAST(s.p + {_MASK_SPAN - 1}, n.max_p))) AS cp) c
),
runs AS (
  SELECT doc_id, source, cp,
         CASE WHEN LAG(cp) OVER (PARTITION BY doc_id ORDER BY cp) IS NULL
                OR cp - LAG(cp) OVER (PARTITION BY doc_id ORDER BY cp) <> 1
              THEN 1 ELSE 0 END AS is_run_start
  FROM covered
),
per_doc AS (
  SELECT doc_id, source, COUNT(*) AS masked, SUM(is_run_start) AS n_spans
  FROM runs GROUP BY doc_id, source
),
totals AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS total_tokens
  FROM toks GROUP BY source
)
SELECT t.source,
       t.n_docs,
       CAST(t.total_tokens AS BIGINT) AS total_tokens,
       CAST(SUM(p.masked) AS BIGINT) AS masked_tokens,
       CAST(SUM(p.n_spans) AS BIGINT) AS n_spans,
       -- div-safe: per-source token totals are >= 1
       ROUND(SUM(p.masked) / CAST(t.total_tokens AS DOUBLE), 6)
         AS masked_frac,
       -- div-safe: n_spans >= 1 whenever masked rows exist
       ROUND(SUM(p.masked) / CAST(SUM(p.n_spans) AS DOUBLE), 4)
         AS avg_span_len
FROM per_doc p JOIN totals t USING (source)
GROUP BY t.source, t.n_docs, t.total_tokens
ORDER BY t.source
"""


# --------------------------------------------------------------------------
# Skip-gram training-pair generation (word2vec-style, with negatives)
# --------------------------------------------------------------------------

#: context window: pairs (center, t[j]) for |j − i| ≤ win, j ≠ i.
_SG_WIN = 2
#: Mikolov frequency-subsampling threshold t in p_keep = √(t/f) + t/f.
_SG_T = 0.001
#: negatives drawn per kept pair from the unigram^0.75 table.
_SG_NEG = 2
#: negative table = top-V corpus tokens by frequency.
_SG_VOCAB = 512
#: integer weight scale and the bucket count of the inverse-CDF index.
_SG_W_SCALE = 1_000_000
_SG_BUCKETS = 256


def skipgram_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec-style TRAINING-PAIR ASSEMBLY — the step that turns a corpus
    into (center, context, negatives) examples for embedding training:
    (1) skip-gram pairs within a ±{win} window built array-side (one pass,
    no positional self-join); (2) Mikolov frequency subsampling — each
    center position is kept with ``p = √(t/f) + t/f`` against an md5-ring
    uniform, down-weighting stopword-dominated pairs; (3) {neg} negatives
    per kept pair drawn from the unigram^0.75 distribution of the top-{v}
    vocab by BUCKETIZED INVERSE-CDF: integer weights (``round(c^0.75·1e6)``,
    exact cumsums), a {b}-bucket index exploded from the cumulative table,
    and each draw equi-joins its bucket then range-filters — the
    distributed alias-free sampling layout (never a per-row scan of the
    CDF). Per source: raw/kept pair censuses, the kept rate, negative
    count, exact negative-rank sum (frequency-bias audit), and an md5
    checksum over drawn negatives.

    Determinism: keep-probabilities use only correctly-rounded IEEE ops
    (√, /) on identical inputs; weights/cumsums/buckets are exact integers;
    every draw is a pure function of (doc, position, draw index) on the
    md5 ring — the oracle replays the exact pair and negative sets.

    Scale shape: pairs explode from the token array (linear in tokens ×
    2·win); the frequency gate is a hash join on the token key; the
    negative table is TakeOrdered-bounded and broadcast with its bucket
    index; the report is one groupBy(source)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens("text").alias("t")
    )
    # One row per CENTER POSITION, not per skip-gram pair (r17): the
    # subsampling gate depends only on (doc_id, pos, center token), and the
    # number of context partners is pure window arithmetic — so the explode,
    # the unigram join, and the md5 keep-draw all run over the ~n_tokens
    # position table instead of the ~2·win× larger pair table, and every
    # pair-level quantity downstream is recovered exactly (pair counts as
    # keep-weighted n_ctx sums; the negative draws re-expand context
    # positions for kept centers only — the identical (doc, pos, cpos, j)
    # md5 arguments as the per-pair formulation).
    positions = docs.filter(F.size("t") >= 2).select(
        "doc_id",
        "source",
        F.size("t").alias("n"),
        F.posexplode("t").alias("pos", "center"),
    )
    n_ctx = (
        F.least(F.col("n") - 1, F.col("pos") + _SG_WIN)
        - F.greatest(F.lit(0), F.col("pos") - _SG_WIN)
    ).cast("long")
    toks = docs.select(F.explode("t").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("t_tok"))
    # keep-probability of a center position: sqrt(t/f) + t/f, f = c_w/T
    u = (
        (
            md5_long(
                F.concat(
                    F.lit("sg:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            )
            % 1000000
        ).cast("double")
        + 0.5
        # div-safe: literal 1e6 denominator
    ) / 1000000.0
    # div-safe: c_w >= 1 (GROUP BY count)
    tf = (F.lit(_SG_T) * F.col("t_tok")) / F.col("c_w")
    keep = u < F.least(F.sqrt(tf) + tf, F.lit(1.0))
    # project BEFORE the checkpoint: downstream consumers (the negative
    # draws and the per-source pair census) need only (doc_id, source,
    # pos, n, n_ctx, keep) — one row per center position.
    gated = (
        positions.join(uni.withColumnRenamed("w", "center"), "center")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "source", "pos", "n", n_ctx.alias("n_ctx"),
            keep.alias("keep"),
        )
    )
    gated = materialize(gated)
    # negative table: top-V vocab, integer unigram^0.75 weights, exact cums
    vocab = (
        uni.orderBy(F.desc("c_w"), "w")
        .limit(_SG_VOCAB)
        .withColumn(
            "wgt",
            F.round(F.pow(F.col("c_w").cast("double"), 0.75) * _SG_W_SCALE, 0)
            .cast("long"),
        )
    )
    wv = Window.orderBy(F.desc("c_w"), "w")
    vocab = vocab.select(
        F.col("w").alias("neg_token"),
        F.row_number().over(wv).alias("rank"),
        "wgt",
        (F.sum("wgt").over(wv) - F.col("wgt")).alias("lo"),
        F.sum("wgt").over(wv).alias("hi"),
    )
    vocab = materialize(vocab)
    tw = vocab.agg(F.max("hi").alias("total_w"))
    index = (
        vocab.crossJoin(F.broadcast(tw))
        .select(
            "neg_token",
            "rank",
            "lo",
            "hi",
            F.explode(
                F.sequence(
                    F.expr(f"(lo * {_SG_BUCKETS}) div total_w"),
                    F.expr(f"((hi - 1) * {_SG_BUCKETS}) div total_w"),
                )
            ).alias("bucket"),
        )
    )
    draws = (
        gated.filter("keep")
        .select(
            "doc_id", "source", "pos",
            F.explode(
                F.expr(
                    f"""filter(sequence(greatest(0, pos - {_SG_WIN}),
                                        least(n - 1, pos + {_SG_WIN})),
                               j -> j != pos)"""
                )
            ).alias("cpos"),
        )
        .select(
            "doc_id", "source", "pos", "cpos",
            F.explode(F.sequence(F.lit(1), F.lit(_SG_NEG))).alias("j"),
        )
        .crossJoin(F.broadcast(tw))
        .select(
            "source",
            (
                md5_long(
                    F.concat(
                        F.lit("sgneg:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("pos").cast("string"),
                        F.lit(":"),
                        F.col("cpos").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % F.col("total_w")
            ).alias("u2"),
            "total_w",
        )
        .select(
            "source",
            "u2",
            F.expr(f"(u2 * {_SG_BUCKETS}) div total_w").alias("bucket"),
        )
    )
    negs = draws.join(F.broadcast(index), "bucket").filter(
        (F.col("lo") <= F.col("u2")) & (F.col("u2") < F.col("hi"))
    )
    neg_stats = negs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_negatives"),
        F.sum("rank").cast("long").alias("neg_rank_sum"),
        F.sum(
            md5_long(F.concat(F.lit("c:"), F.col("neg_token"))) % 1000003
        ).cast("long").alias("neg_checksum"),
    )
    # pair counts are keep-weighted context-count sums over positions —
    # exactly the per-pair COUNT/SUM(keep) of the old pair-row census
    pair_stats = gated.groupBy("source").agg(
        F.sum("n_ctx").alias("n_pairs_raw"),
        F.sum(F.when(F.col("keep"), F.col("n_ctx")).otherwise(0)).alias(
            "n_pairs_kept"
        ),
        F.round(
            # div-safe: every source group holds >= 1 pair (n_ctx >= 1 on
            # every position of a >= 2-token doc)
            F.sum(F.when(F.col("keep"), F.col("n_ctx")).otherwise(0))
            / F.sum("n_ctx"),
            6,
        ).alias("kept_rate"),
    )
    return (
        pair_stats.join(neg_stats, "source", "left")
        .select(
            "source",
            "n_pairs_raw",
            "n_pairs_kept",
            "kept_rate",
            F.coalesce("n_negatives", F.lit(0)).alias("n_negatives"),
            F.coalesce("neg_rank_sum", F.lit(0)).alias("neg_rank_sum"),
            F.coalesce("neg_checksum", F.lit(0)).alias("neg_checksum"),
        )
        .orderBy("source")
    )


skipgram_negative_pairs.__doc__ = skipgram_negative_pairs.__doc__.format(
    win=_SG_WIN, neg=_SG_NEG, v=_SG_VOCAB, b=_SG_BUCKETS
)

_SKIPGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKENS.format(col='text')} AS tk
  FROM documents),
posn AS (
  SELECT t.doc_id, t.source, gi.i - 1 AS pos, tk[gi.i] AS w, len(tk) AS n
  FROM toks t, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) gi
  WHERE len(tk) >= 2),
pairs AS (
  SELECT c.doc_id, c.source, c.w AS center, x.w AS context,
         c.pos AS pos, x.pos AS cpos
  FROM posn c JOIN posn x
    ON x.doc_id = c.doc_id
   AND x.pos BETWEEN c.pos - {_SG_WIN} AND c.pos + {_SG_WIN}
   AND x.pos <> c.pos),
uni AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_tok
          FROM (SELECT unnest(tk) FROM toks)),
gated AS (
  SELECT p.doc_id, p.source, p.center, p.context, p.pos, p.cpos,
         (CAST({duck_md5_long("'sg:' || CAST(p.doc_id AS VARCHAR) || ':' || CAST(p.pos AS VARCHAR)")}
               % 1000000 AS DOUBLE) + 0.5) / 1000000.0
           -- div-safe (above): literal 1e6; (below): c_w >= 1 twice
           -- div-safe: c_w is a GROUP BY count, >= 1
           < LEAST(SQRT(({_SG_T!r} * t_tok) / c_w)
                   -- div-safe: c_w is a GROUP BY count, >= 1
                   + ({_SG_T!r} * t_tok) / c_w, 1.0) AS keep
  FROM pairs p JOIN uni ON uni.w = p.center CROSS JOIN total),
vocab0 AS (
  SELECT w AS neg_token, c_w,
         ROW_NUMBER() OVER (ORDER BY c_w DESC, w) AS rank,
         CAST(ROUND(POWER(CAST(c_w AS DOUBLE), 0.75) * {_SG_W_SCALE}, 0)
              AS BIGINT) AS wgt
  FROM uni
  ORDER BY c_w DESC, w
  LIMIT {_SG_VOCAB}),
vocab AS (
  SELECT neg_token, rank, wgt,
         SUM(wgt) OVER (ORDER BY rank) - wgt AS lo,
         SUM(wgt) OVER (ORDER BY rank) AS hi
  FROM vocab0),
tw AS (SELECT MAX(hi) AS total_w FROM vocab),
idx AS (
  SELECT neg_token, rank, lo, hi, gb.bucket
  FROM vocab, tw,
       LATERAL (SELECT unnest(generate_series(
                  CAST((lo * {_SG_BUCKETS}) // total_w AS BIGINT),
                  CAST(((hi - 1) * {_SG_BUCKETS}) // total_w AS BIGINT)))
                AS bucket) gb),
draws AS (
  SELECT g.source,
         {duck_md5_long("'sgneg:' || CAST(g.doc_id AS VARCHAR) || ':' || CAST(g.pos AS VARCHAR) || ':' || CAST(g.cpos AS VARCHAR) || ':' || CAST(gj.j AS VARCHAR)")}
           % total_w AS u2
  FROM gated g,
       (SELECT unnest(generate_series(1, {_SG_NEG})) AS j) gj,
       tw
  WHERE g.keep),
negs AS (
  SELECT d.source, i.neg_token, i.rank
  FROM draws d, tw
  JOIN idx i ON i.bucket = (d.u2 * {_SG_BUCKETS}) // tw.total_w
  WHERE i.lo <= d.u2 AND d.u2 < i.hi),
neg_stats AS (
  SELECT source, COUNT(*) AS n_negatives,
         CAST(SUM(rank) AS BIGINT) AS neg_rank_sum,
         CAST(SUM({duck_md5_long("'c:' || neg_token")} % 1000003) AS BIGINT)
           AS neg_checksum
  FROM negs GROUP BY source),
pair_stats AS (
  SELECT source, COUNT(*) AS n_pairs_raw,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pairs_kept,
         -- div-safe: COUNT(*) of a GROUP BY group is >= 1
         ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS kept_rate
  FROM gated GROUP BY source)
SELECT p.source, p.n_pairs_raw, p.n_pairs_kept, p.kept_rate,
       COALESCE(n.n_negatives, 0) AS n_negatives,
       COALESCE(n.neg_rank_sum, 0) AS neg_rank_sum,
       COALESCE(n.neg_checksum, 0) AS neg_checksum
FROM pair_stats p LEFT JOIN neg_stats n USING (source)
ORDER BY p.source
"""


# --------------------------------------------------------------------------
# RLHF preference-pair assembly (r14): reward-model data prep — group
# candidate documents, pair higher-rated vs lower-rated, drop ties
# --------------------------------------------------------------------------

def preference_pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR ASSEMBLY — the reward-model data-prep step of an
    RLHF pipeline: within each prompt group (here: ``source`` — each
    source's documents act as candidate responses), rank candidates by the
    shared [0,1] quality score (:func:`...text.quality_score`, the reward
    signal), then MEDIAN-SPLIT PAIR them — rank ``i`` of the top half is
    the ``chosen`` against rank ``i + ceil(n/2)`` as ``rejected`` — and
    drop tied pairs (zero-margin pairs teach a reward model nothing; real
    pipelines filter them the same way). Reported per source: candidate
    count, raw/kept/tie-dropped pair counts, exact integer margin stats
    (scores are 4-dp values, carried as ``floor(score·1e4 + 0.5)`` units
    so margin sums are bit-exact cross-engine), and chosen/rejected
    doc-id checksums that pin WHICH documents were paired, not just how
    many.

    Scale shape: one scan + projection for the score, a per-source window
    rank (prompt-group-local, no global sort), a broadcast join of the
    20-row group-size table, and ONE self-equi-join on (source, rank
    offset) — pair count is n/2 per group by construction, never a
    within-group cartesian. At 100 TB with millions of prompt groups the
    same plan holds: every stage keys on the group id."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars", "text"
    )
    # The reward signal is quality_score()'s formula with the 4-dp ROUND
    # replaced by integer 1e-4 units taken from the UNROUNDED double
    # (floor(raw·1e4 + 0.5), identical IEEE ops in both engines) — never
    # re-quantize an engine-rounded value (the half-boundary class where
    # Spark's BigDecimal HALF_UP and DuckDB's double ROUND disagree; it
    # flipped one src18 margin by 1 unit in the first cut of this query).
    n_tokens = F.regexp_count("text", F.lit(r"\S+"))
    stop_hits = F.regexp_count("text", F.lit(r"\b(the|a|of|and|is)\b"))
    punct = F.regexp_count("text", F.lit(r"[^\w\s]"))
    raw = (
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * 0.5
        + F.least(
            F.lit(1.0),
            # div-safe: GREATEST(n_tokens, 1) >= 1
            stop_hits / F.greatest(n_tokens.cast("double"), F.lit(1.0))
            * 5.0,
        ) * 0.3
        + (
            F.lit(1.0)
            - F.least(
                F.lit(1.0),
                # div-safe: GREATEST(n_chars, 1) >= 1
                punct
                / F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
                * 10.0,
            )
        ) * 0.2
    )
    ranked = docs.select(
        "source",
        "doc_id",
        F.floor(raw * 10000 + F.lit(0.5)).cast("long").alias("s_i4"),
    ).select(
        "source",
        "doc_id",
        "s_i4",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("s_i4").desc(), F.col("doc_id").asc()
            )
        )
        .alias("r"),
    )
    sizes = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # h = ceil(n/2): rank i (i <= n - h = n//2) pairs with rank i + h
    half = (F.col("n_docs") - F.floor(F.col("n_docs") / 2)).alias("h")
    chosen = ranked.join(
        F.broadcast(sizes.select("source", "n_docs", half)), "source"
    )
    pairs = (
        chosen.filter(F.col("r") <= F.col("n_docs") - F.col("h"))
        .alias("c")
        .join(
            ranked.alias("j"),
            (F.col("c.source") == F.col("j.source"))
            & (F.col("j.r") == F.col("c.r") + F.col("c.h")),
        )
        .select(
            F.col("c.source").alias("source"),
            F.col("c.doc_id").alias("chosen_id"),
            F.col("j.doc_id").alias("rejected_id"),
            (F.col("c.s_i4") - F.col("j.s_i4")).alias("margin_i4"),
        )
    )
    kept = F.col("margin_i4") > 0
    return (
        pairs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_pairs_raw"),
            F.sum(kept.cast("long")).alias("n_pairs_kept"),
            F.sum((~kept).cast("long")).alias("n_ties_dropped"),
            F.sum(F.when(kept, F.col("margin_i4")).otherwise(0)).alias(
                "margin_sum_i4"
            ),
            F.max(F.when(kept, F.col("margin_i4")).otherwise(0)).alias(
                "margin_max_i4"
            ),
            F.sum(F.when(kept, F.col("chosen_id")).otherwise(0)).alias(
                "chosen_id_sum"
            ),
            F.sum(F.when(kept, F.col("rejected_id")).otherwise(0)).alias(
                "rejected_id_sum"
            ),
        )
        .join(F.broadcast(sizes), "source")
        .select(
            "source", "n_docs", "n_pairs_raw", "n_pairs_kept",
            "n_ties_dropped", "margin_sum_i4", "margin_max_i4",
            "chosen_id_sum", "rejected_id_sum",
        )
        .orderBy("source")
    )


_PREF_PAIRS_SQL = r"""
WITH scored AS (
  SELECT source, doc_id,
         -- quality_score()'s raw formula, same IEEE op order as the Spark
         -- side, quantized once to integer 1e-4 units (no engine ROUND)
         CAST(floor((
           LEAST(1.0, len(regexp_extract_all(text, '\S+')) / 100.0) * 0.5
           + LEAST(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|is)\b'))
                   -- div-safe: GREATEST(n_tokens, 1) >= 1
                   / CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1)
                          AS DOUBLE) * 5.0) * 0.3
           + (1.0 - LEAST(1.0, len(regexp_extract_all(text, '[^\w\s]'))
                    -- div-safe: GREATEST(n_chars, 1) >= 1
                    / CAST(GREATEST(n_chars, 1) AS DOUBLE) * 10.0)) * 0.2
         ) * 10000 + 0.5) AS BIGINT) AS s_i4
  FROM documents
),
ranked AS (
  SELECT source, doc_id, s_i4,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY s_i4 DESC, doc_id ASC
         ) AS r
  FROM scored
),
sizes AS (
  SELECT source, COUNT(*) AS n_docs,
         COUNT(*) - COUNT(*) // 2 AS h
  FROM ranked GROUP BY source
),
pairs AS (
  SELECT c.source, c.doc_id AS chosen_id, j.doc_id AS rejected_id,
         c.s_i4 - j.s_i4 AS margin_i4
  FROM ranked c
  JOIN sizes z ON z.source = c.source
  JOIN ranked j ON j.source = c.source AND j.r = c.r + z.h
  WHERE c.r <= z.n_docs // 2
)
SELECT p.source,
       CAST(z.n_docs AS BIGINT) AS n_docs,
       COUNT(*) AS n_pairs_raw,
       CAST(count_if(margin_i4 > 0) AS BIGINT) AS n_pairs_kept,
       CAST(count_if(margin_i4 <= 0) AS BIGINT) AS n_ties_dropped,
       CAST(COALESCE(SUM(CASE WHEN margin_i4 > 0 THEN margin_i4 END), 0)
            AS BIGINT) AS margin_sum_i4,
       CAST(COALESCE(MAX(CASE WHEN margin_i4 > 0 THEN margin_i4 END), 0)
            AS BIGINT) AS margin_max_i4,
       CAST(COALESCE(SUM(CASE WHEN margin_i4 > 0 THEN chosen_id END), 0)
            AS BIGINT) AS chosen_id_sum,
       CAST(COALESCE(SUM(CASE WHEN margin_i4 > 0 THEN rejected_id END), 0)
            AS BIGINT) AS rejected_id_sum
FROM pairs p JOIN sizes z ON z.source = p.source
GROUP BY p.source, z.n_docs
ORDER BY p.source
"""


# --------------------------------------------------------------------------
# Bradley-Terry strength fitting over pairwise preferences (r14): the
# ranking model RLHF reward pipelines and arena-style evals fit over
# "A beat B" match tables (Bradley & Terry 1952; MM algorithm per Hunter
# 2004, "MM algorithms for generalized Bradley-Terry models")
# --------------------------------------------------------------------------

#: MM fixed-point iterations (strengths stabilize to ~1e-5 on 20 items).
_BT_ITERS = 5
#: per-term/denominator rounding: cross-row sums are taken over 6-dp
#: DECIMAL addends so both engines add EXACTLY the same quantities in any
#: order (the repo's standard escape from double sum-order drift).
_BT_ROUND = 6


def bradley_terry_source_ranking(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY strength fitting — the model behind reward-model
    eval boards and chatbot-arena rankings, fit here over deterministic
    pairwise matches between SOURCES: document ``i`` (by within-source
    rank order) of source A meets document ``i`` of source B for every
    source pair, the higher integer quality score (same 1e-4-unit signal
    as :func:`preference_pair_assembly`) wins, ties are discarded. The
    20-item strengths then run {iters} Hunter-MM fixed-point iterations
    ``p_i ← w_i / Σ_j n_ij/(p_i+p_j)`` (normalized to sum 1 each step)
    entirely as 190-row broadcast-joined aggregates.

    Cross-engine determinism: every cross-row sum (the MM denominator and
    the normalizer) is taken over addends rounded to {r} dp and cast to
    DECIMAL, so the sums are exact in both engines regardless of add
    order; the two divisions per step happen on those pinned values and
    are single IEEE ops. The DuckDB oracle unrolls the same {iters}
    iterations as a CTE chain.

    Scale shape: the match table comes from ONE equi-join on the
    within-source rank (linear in docs; never a within-pair cartesian),
    collapses immediately to a |sources|²-bounded pair table, and every
    MM step is a broadcast join + tiny aggregate over it — the bounded
    model-fit shape (same class as the PCA/Holt-Winters trainers)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars", "text"
    )
    n_tokens = F.regexp_count("text", F.lit(r"\S+"))
    stop_hits = F.regexp_count("text", F.lit(r"\b(the|a|of|and|is)\b"))
    punct = F.regexp_count("text", F.lit(r"[^\w\s]"))
    raw = (
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * 0.5
        + F.least(
            F.lit(1.0),
            # div-safe: GREATEST(n_tokens, 1) >= 1
            stop_hits / F.greatest(n_tokens.cast("double"), F.lit(1.0))
            * 5.0,
        ) * 0.3
        + (
            F.lit(1.0)
            - F.least(
                F.lit(1.0),
                # div-safe: GREATEST(n_chars, 1) >= 1
                punct
                / F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
                * 10.0,
            )
        ) * 0.2
    )
    scored = docs.select(
        "source",
        F.floor(raw * 10000 + F.lit(0.5)).cast("long").alias("s_i4"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("idx"),
    )
    m = (
        scored.alias("a")
        .join(
            scored.alias("b"),
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .filter(F.col("a.s_i4") != F.col("b.s_i4"))
        .select(
            F.col("a.source").alias("sa"),
            F.col("b.source").alias("sb"),
            (F.col("a.s_i4") > F.col("b.s_i4")).cast("long").alias("a_won"),
        )
    )
    pair_tbl = m.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("long").alias("n_ij"),
        F.sum("a_won").alias("w_a"),
    )
    pair_tbl = materialize(pair_tbl)  # 190-row model table; cut the lineage
    # per-item totals (wins and matches) from both orientations
    items = (
        pair_tbl.select(
            F.col("sa").alias("source"), "n_ij", F.col("w_a").alias("w")
        )
        .unionByName(
            pair_tbl.select(
                F.col("sb").alias("source"),
                "n_ij",
                (F.col("n_ij") - F.col("w_a")).alias("w"),
            )
        )
        .groupBy("source")
        .agg(
            F.sum("n_ij").alias("n_matches"),
            F.sum("w").alias("n_wins"),
        )
    )
    # undirected opponent view: one row per (i, j) orientation
    opp = pair_tbl.select(
        F.col("sa").alias("i"), F.col("sb").alias("j"), "n_ij"
    ).unionByName(
        pair_tbl.select(
            F.col("sb").alias("i"), F.col("sa").alias("j"), "n_ij"
        )
    )
    opp = materialize(opp)

    dec = f"decimal(28,{_BT_ROUND})"
    cur = items.select("source", F.lit(1.0).alias("p"))
    for _ in range(_BT_ITERS):
        pj = cur.select(F.col("source").alias("j"), F.col("p").alias("p_j"))
        pi = cur.select(F.col("source").alias("i"), F.col("p").alias("p_i"))
        denom = (
            opp.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            .select(
                "i",
                F.round(
                    F.col("n_ij")
                    # div-safe: GREATEST(p_i + p_j, 1e-9) > 0
                    / F.greatest(
                        F.col("p_i") + F.col("p_j"), F.lit(1e-9)
                    ),
                    _BT_ROUND,
                ).cast(dec).alias("term"),
            )
            .groupBy("i")
            .agg(F.sum("term").alias("denom"))
        )
        p_raw = (
            items.select(F.col("source").alias("i"), "n_wins")
            .join(F.broadcast(denom), "i")
            .select(
                "i",
                F.round(
                    F.col("n_wins").cast("double")
                    # div-safe: GREATEST(denom, 1e-9) > 0
                    / F.greatest(
                        F.col("denom").cast("double"), F.lit(1e-9)
                    ),
                    _BT_ROUND,
                ).cast(dec).alias("p_raw"),
            )
        )
        total = p_raw.agg(F.sum("p_raw").alias("t"))
        cur = p_raw.crossJoin(F.broadcast(total)).select(
            F.col("i").alias("source"),
            F.round(
                F.col("p_raw").cast("double")
                # div-safe: GREATEST(t, 1e-9) > 0 (strengths are >= 0 and
                # at least one item has wins)
                / F.greatest(F.col("t").cast("double"), F.lit(1e-9)),
                _BT_ROUND,
            ).alias("p"),
        )
        # materialize the 20-row strengths per iteration: without the cut,
        # five stacked join+agg+crossJoin generations compound into a plan
        # Catalyst re-optimizes end-to-end (140 s at sf0.1 in the first
        # r14 recording); with it each MM step plans against a leaf
        cur = materialize(cur)
    # the strengths table is |sources|-bounded by construction; the limit
    # restates that bound on the checkpoint leaf (the lineage cut above
    # erases the Aggregate node the plan audit would otherwise see)
    final = items.join(cur.limit(4096), "source")
    return final.select(
        "source",
        "n_matches",
        "n_wins",
        F.col("p").alias("bt_strength"),
        F.row_number()
        .over(Window.orderBy(F.col("p").desc(), F.col("source").asc()))
        .alias("bt_rank"),
    ).orderBy("source")


bradley_terry_source_ranking.__doc__ = (
    bradley_terry_source_ranking.__doc__.format(
        iters=_BT_ITERS, r=_BT_ROUND
    )
)


def _bt_oracle() -> str:
    score_sql = r"""
         CAST(floor((
           LEAST(1.0, len(regexp_extract_all(text, '\S+')) / 100.0) * 0.5
           + LEAST(1.0, len(regexp_extract_all(text, '\b(the|a|of|and|is)\b'))
                   -- div-safe: GREATEST(n_tokens, 1) >= 1
                   / CAST(GREATEST(len(regexp_extract_all(text, '\S+')), 1)
                          AS DOUBLE) * 5.0) * 0.3
           + (1.0 - LEAST(1.0, len(regexp_extract_all(text, '[^\w\s]'))
                    -- div-safe: GREATEST(n_chars, 1) >= 1
                    / CAST(GREATEST(n_chars, 1) AS DOUBLE) * 10.0)) * 0.2
         ) * 10000 + 0.5) AS BIGINT)"""
    dec = f"DECIMAL(28,{_BT_ROUND})"
    it = """
it{k} AS MATERIALIZED (
  SELECT i, ROUND(p_raw
                  -- div-safe: GREATEST(total, 1e-9) > 0
                  / GREATEST((SELECT SUM(p_raw) FROM raw{k}), 1e-9),
               {r}) AS p
  FROM raw{k}
),"""
    raw_step = """
raw{k} AS MATERIALIZED (
  SELECT w.source AS i,
         ROUND(CAST(w.n_wins AS DOUBLE)
               -- div-safe: GREATEST(denom, 1e-9) > 0
               / GREATEST(CAST(d.denom AS DOUBLE), 1e-9), {r}) AS p_raw
  FROM item_tot w
  JOIN (
    SELECT o.i,
           SUM(CAST(ROUND(o.n_ij
                          -- div-safe: GREATEST(p_i + p_j, 1e-9) > 0
                          / GREATEST(pi.p + pj.p, 1e-9), {r})
                    AS {dec})) AS denom
    FROM opp o
    JOIN it{prev} pi ON pi.i = o.i
    JOIN it{prev} pj ON pj.i = o.j
    GROUP BY o.i
  ) d ON d.i = w.source
),"""
    chain = (
        "it0 AS MATERIALIZED (SELECT source AS i, 1.0 AS p FROM item_tot),"
    )
    for k in range(1, _BT_ITERS + 1):
        chain += raw_step.format(k=k, prev=k - 1, r=_BT_ROUND, dec=dec)
        chain += it.format(k=k, r=_BT_ROUND)
    chain = chain.rstrip(",")
    return f"""
WITH scored AS (
  SELECT source, doc_id, {score_sql} AS s_i4,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS idx
  FROM documents
),
m AS (
  SELECT a.source AS sa, b.source AS sb,
         CASE WHEN a.s_i4 > b.s_i4 THEN 1 ELSE 0 END AS a_won
  FROM scored a JOIN scored b
    ON a.idx = b.idx AND a.source < b.source
  WHERE a.s_i4 <> b.s_i4
),
pair_tbl AS MATERIALIZED (
  SELECT sa, sb, COUNT(*) AS n_ij, SUM(a_won) AS w_a
  FROM m GROUP BY sa, sb
),
item_tot AS MATERIALIZED (
  SELECT source, CAST(SUM(n_ij) AS BIGINT) AS n_matches,
         CAST(SUM(w) AS BIGINT) AS n_wins
  FROM (
    SELECT sa AS source, n_ij, w_a AS w FROM pair_tbl
    UNION ALL
    SELECT sb AS source, n_ij, n_ij - w_a AS w FROM pair_tbl
  ) GROUP BY source
),
opp AS MATERIALIZED (
  SELECT sa AS i, sb AS j, n_ij FROM pair_tbl
  UNION ALL
  SELECT sb AS i, sa AS j, n_ij FROM pair_tbl
),
{chain}
SELECT t.source, t.n_matches, t.n_wins,
       f.p AS bt_strength,
       CAST(ROW_NUMBER() OVER (ORDER BY f.p DESC, t.source ASC) AS INTEGER)
         AS bt_rank
FROM item_tot t JOIN it{_BT_ITERS} f ON f.i = t.source
ORDER BY t.source
"""


# --------------------------------------------------------------------------
# Length-grouped batching padding-waste planner (r15): the training-
# efficiency decision every fine-tuning job makes — pad-to-max batches in
# arrival order vs length-sorted order, waste quantified exactly.
# --------------------------------------------------------------------------

#: documents per training batch for the padding-waste comparison.
_BATCH_DOCS = 16
#: ranking shards: batches form within doc_id % this (a global sorted
#: batching order is a single-partition sort — the registry plan audit
#: rightly rejects it; real loaders shard first and sort within workers).
_BATCH_SHARDS = 8


def batch_padding_waste_planner(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """PADDING-WASTE PLANNER — quantify what length-grouped batching buys
    (the HF ``group_by_length`` / dynamic-batching decision): form
    {b}-doc pad-to-max batches WITHIN {s} ranking shards (a global sorted
    order would be a single-partition sort; real loaders shard first and
    sort within workers) under TWO orderings — arrival (doc_id) and
    length-sorted ((len, doc_id)) — and report, per strategy, the exact
    padded-token bill: batches, real tokens, padded slots
    (batch_max·batch_size summed), wasted slots, and waste in basis
    points (integer: ``10000·waste // padded``). All integer arithmetic;
    the window fan-out is one rank per doc and one max per batch.

    At 100 TB the same plan runs per shard: ranks are a sort-within-
    partition, batch maxima a bounded aggregate; the output is 2 rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens("text")).alias("len"),
        (F.col("doc_id") % _BATCH_SHARDS).alias("shard"),
    )

    def census(order_cols, strategy: str) -> DataFrame:
        w = Window.partitionBy("shard").orderBy(*order_cols)
        b = (
            docs.withColumn(
                "batch",
                ((F.row_number().over(w) - 1) / _BATCH_DOCS).cast("long"),
            )
            .groupBy("shard", "batch")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("len").alias("tokens"),
                (F.max("len") * F.count(F.lit(1))).alias("padded"),
            )
        )
        return b.agg(
            F.lit(strategy).alias("strategy"),
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("tokens").alias("real_tokens"),
            F.sum("padded").alias("padded_slots"),
            (F.sum("padded") - F.sum("tokens")).alias("wasted_slots"),
        ).select(
            "strategy",
            "n_batches",
            "real_tokens",
            "padded_slots",
            "wasted_slots",
            # div-safe: padded_slots >= real_tokens >= n_docs >= 1.
            # Integral `div` matches the oracle's `//` exactly at any
            # magnitude (double division loses bits past ~1e15 slots).
            F.expr("wasted_slots * 10000 div padded_slots")
            .alias("waste_bps"),
        )

    arrival = census([F.col("doc_id").asc()], "arrival")
    sorted_ = census(
        [F.col("len").asc(), F.col("doc_id").asc()], "length_sorted"
    )
    return arrival.unionByName(sorted_).orderBy("strategy")


batch_padding_waste_planner.__doc__ = (
    batch_padding_waste_planner.__doc__.format(
        b=_BATCH_DOCS, s=_BATCH_SHARDS
    )
)

_PAD_WASTE_SQL = rf"""
WITH lens AS (
  SELECT doc_id, len({_DUCK_TOKENS.format(col='text')}) AS len,
         doc_id % {_BATCH_SHARDS} AS shard
  FROM documents
),
arrival AS (
  SELECT len, shard,
         (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) - 1)
           // {_BATCH_DOCS} AS batch
  FROM lens
),
sorted_ AS (
  SELECT len, shard,
         (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY len, doc_id) - 1)
           // {_BATCH_DOCS} AS batch
  FROM lens
),
per AS (
  SELECT 'arrival' AS strategy, shard, batch,
         COUNT(*) AS n, SUM(len) AS tokens,
         MAX(len) * COUNT(*) AS padded
  FROM arrival GROUP BY shard, batch
  UNION ALL
  SELECT 'length_sorted', shard, batch, COUNT(*), SUM(len),
         MAX(len) * COUNT(*)
  FROM sorted_ GROUP BY shard, batch
)
SELECT strategy,
       COUNT(*) AS n_batches,
       CAST(SUM(tokens) AS BIGINT) AS real_tokens,
       CAST(SUM(padded) AS BIGINT) AS padded_slots,
       CAST(SUM(padded) - SUM(tokens) AS BIGINT) AS wasted_slots,
       -- div-safe: padded_slots >= real_tokens >= 1
       CAST((SUM(padded) - SUM(tokens)) * 10000 // SUM(padded) AS BIGINT)
         AS waste_bps
FROM per
GROUP BY strategy
ORDER BY strategy
"""

QUERIES = {
    "batch_padding_waste_planner": batch_padding_waste_planner,
    "preference_pair_assembly": preference_pair_assembly,
    "bradley_terry_source_ranking": bradley_terry_source_ranking,
    "span_corruption_mask_stats": span_corruption_mask_stats,
    "skipgram_negative_pairs": skipgram_negative_pairs,
    "context_length_sweep": context_length_sweep,
    "doc_length_quantile_normalization": doc_length_quantile_normalization,
    "chunk_documents_sliding": chunk_documents_sliding,
    "source_temperature_mixture": source_temperature_mixture,
    "dedup_documents_containment": dedup_documents_containment,
    "embedding_dimension_stats": embedding_dimension_stats,
    "hard_negative_mining": hard_negative_mining,
    "embedding_kmeans_clusters": embedding_kmeans_clusters,
    "dedup_chunks_exact": dedup_chunks_exact,
    "source_embedding_profile": source_embedding_profile,
    "quality_curriculum_tiers": quality_curriculum_tiers,
    "split_leakage_report": split_leakage_report,
}

ORACLES = {
    "batch_padding_waste_planner": _PAD_WASTE_SQL,
    "preference_pair_assembly": _PREF_PAIRS_SQL,
    "bradley_terry_source_ranking": _bt_oracle(),
    "span_corruption_mask_stats": _SPAN_MASK_SQL,
    "skipgram_negative_pairs": _SKIPGRAM_SQL,
    "context_length_sweep": _CTX_SWEEP_SQL,
    "doc_length_quantile_normalization": _QNORM_SQL,
    "chunk_documents_sliding": _CHUNK_SQL,
    "source_temperature_mixture": _MIX_SQL,
    "dedup_documents_containment": _CONTAIN_SQL,
    "embedding_dimension_stats": _DIM_STATS_SQL,
    "hard_negative_mining": _HARD_NEG_SQL,
    "embedding_kmeans_clusters": _KMEANS_SQL,
    "dedup_chunks_exact": _CHUNK_DEDUP_SQL,
    "source_embedding_profile": _SRC_EMB_SQL,
    "quality_curriculum_tiers": _TIERS_SQL,
    "split_leakage_report": _leakage_sql(),
}
