"""Embedding similarity search over the ``embeddings`` table
(``vec_id BIGINT, embedding FLOAT[64], label INT``).

Three operators, from exact baseline to sub-linear scale path:

1. :func:`ann_cosine_topk` — brute-force cosine top-k for a small query set:
   broadcast the queries against the corpus (BroadcastNestedLoopJoin — the
   correct "exact" plan at any corpus size when |queries| is small; there is
   no shuffled cartesian).
2. :func:`ann_ivf_topk` — IVF: vectors are assigned to their nearest coarse
   centroid once, and each query probes ONLY its own centroid's bucket — the
   classic inverted-file ANN layout; at 100 TB the bucket is a partition-
   pruned equi-join, touching 1/C of the corpus per query.
3. :func:`embedding_near_dup_pairs` — sign-random-projection LSH: 4 hash
   tables × 4 hyperplanes bucket the corpus; only same-bucket pairs get an
   exact cosine check. Hyperplanes derive from the portable md5 hash, so the
   whole pipeline (buckets included) is reproduced exactly by the DuckDB
   oracle — recall vs the exact answer is a documented LSH property
   (~54% at threshold 0.4 on this corpus), determinism is not sacrificed.

Numeric discipline: embeddings are cast FLOAT→DOUBLE before any arithmetic;
dot products and norms are sequential left-to-right folds over the 64
elements in both engines (verified bit-identical), and every cosine is
ROUND()ed to 6 dp before ranking or thresholding so a hypothetical last-bit
divergence cannot flip an order.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators.dedup import _grouped_pairs
from datafusion_impl_spark.operators import (
    _dot,
    _round_half_up,
    bounded_iteration,
    materialize,
    md5_long,
)
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]

_TOPK = 5
_IVF_TOPK = 3
_N_CENTROIDS = 8
_QUERY_MOD = 100  # vec_id % 100 == 0 → 1% of the corpus are queries
_LSH_TABLES = 4
_LSH_PLANES = 4
_NEAR_DUP_T = 0.4


def _norm(a: Column) -> Column:
    """L2 norm as a sequential left-to-right fold. NOTE: unrolling this into
    a literal 64-term add chain was tried and is ~3× SLOWER end-to-end — the
    giant expression tree blows up janino codegen compilation; the
    interpreted higher-order fold is the right trade at dim=64."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with embeddings upcast to array<double> plus the precomputed
    L2 norm — higher-order array folds are interpreted (not codegen'd), so
    computing each vector's norm ONCE instead of per candidate pair cuts the
    pair-scoring folds from three to one; the floating-point expression tree
    is unchanged, so results stay bit-identical to the oracle."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    return e.withColumn("nrm", _norm(F.col("v")))


def _cos(a: Column, b: Column) -> Column:
    """Cosine from scratch (used only where norms aren't pre-joined)."""
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    return _dot(a, b) / (_norm(a) * _norm(b))


# --------------------------------------------------------------------------
# 1. Brute-force cosine top-k (exact baseline)
# --------------------------------------------------------------------------

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id % 100 = 0).

    Plan: broadcast the small query side against the corpus scan — one pass
    over the corpus regardless of its size, then a windowed top-k partitioned
    by query (shuffle volume = |corpus| × |queries| rows of 3 columns, NOT
    vectors — the arrays are dropped before the shuffle)."""
    e = _vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("q_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
        .orderBy("q_id", "rank")
    )


_ANN_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {_QUERY_MOD} = 0),
scored AS (
  SELECT q_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(qv, v), 6) AS cos_sim
  FROM q, e
  WHERE e.vec_id <> q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= {_TOPK}
ORDER BY q_id, rank
"""


# --------------------------------------------------------------------------
# 2. IVF (inverted-file) top-k — the partition-pruned scale path
# --------------------------------------------------------------------------

def ann_lsh_ml_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-Spark ANN variant: ``ml.feature.BucketedRandomProjectionLSH``
    over L2-normalized embeddings (Euclidean distance on the unit sphere ↔
    cosine: cos = 1 − d²/2), ``approxSimilarityJoin`` for candidates, then a
    windowed top-5 per query. Driver-checked rows-only — the ML projection
    vectors are engine-internal (the oracle cannot replay the bucketing) —
    with recall-vs-exact asserted in pytest. Same output contract as
    :func:`ann_cosine_topk`."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    # L2-normalize with ml.feature.Normalizer (one JVM pass per vector, no
    # lambda): dividing by a norm column inside a transform() lambda gets
    # the single-use norm fold inlined by CollapseProject and re-evaluated
    # per element — the loop-invariant-HOF recompute the plan audit lints.
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("emb_vec"),
    )
    unit = (
        Normalizer(inputCol="emb_vec", outputCol="features", p=2.0)
        .transform(vecs)
        .select("vec_id", "features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=1.0, numHashTables=4, seed=42,
    )
    model = lsh.fit(unit)
    q = unit.filter(F.col("vec_id") % _QUERY_MOD == 0)
    # distance threshold sqrt(2 - 2*(-0.2)) ≈ 1.55 keeps candidates with
    # cosine ≥ -0.2 — ample headroom for a top-5 at this corpus density.
    joined = model.approxSimilarityJoin(q, unit, 1.55, distCol="dist")
    scored = (
        joined.select(
            F.col("datasetA.vec_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round(1.0 - F.col("dist") * F.col("dist") / 2.0, 6).alias("cos_sim"),
        )
        .filter(F.col("q_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("q_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
        .orderBy("q_id", "rank")
    )


def _ivf_assign(e: DataFrame, n_centroids: int = _N_CENTROIDS) -> DataFrame:
    """(vec_id, v, nrm, bucket): assign every vector to its nearest of the
    deterministic coarse centroids (vec_id < n_centroids) by rounded cosine,
    centroid id as the tiebreak. The centroid frame is broadcast — the only
    crossJoin is |corpus| × n_centroids, a map-side operation."""
    cent = e.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    aw = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("cid"))
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    c_cos = _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("c_nrm"))
    return (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "nrm", "cid", F.round(c_cos, 6).alias("c_sim"))
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("vec_id", "v", "nrm", F.col("cid").alias("bucket"))
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse-quantize every vector to its nearest of 8 centroids
    (vec_id < 8 — deterministic coarse codebook), then each query searches
    only its own centroid's bucket (nprobe=1). The search is an equi-join on
    ``bucket``: at scale, with the corpus written partitioned by bucket, this
    is a partition-pruned scan of 1/8 of the data per query — the IVF
    promise, expressed relationally."""
    e = _vectors(spark, sf_dir)
    # the assignment feeds both the query side and the probe side
    assign = materialize(_ivf_assign(e))
    q = assign.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    )
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        q.join(assign, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("q_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
        .orderBy("q_id", "rank")
    )


_ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM e, cent)
  WHERE arn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM assign WHERE vec_id % {_QUERY_MOD} = 0),
scored AS (
  SELECT q_id, a.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(qv, a.v), 6) AS cos_sim
  FROM q JOIN assign a USING (bucket)
  WHERE a.vec_id <> q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= {_IVF_TOPK}
ORDER BY q_id, rank
"""


# --------------------------------------------------------------------------
# Graded retrieval evaluation: nDCG@K + MRR of IVF vs the exact ranking
# --------------------------------------------------------------------------

#: nDCG list depth (matches the exact baseline's top-K).
_NDCG_K = 5
import math as _math

#: ideal DCG for the constant grade ladder (K, K-1, …, 1) — every query's
#: exact top-K exists in full, so the ideal ranking is the same for all.
_IDCG = sum(
    # div-safe: log2(i+1) >= 1 for the constant positions i >= 1
    (_NDCG_K + 1 - i) / _math.log2(i + 1) for i in range(1, _NDCG_K + 1)
)


def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED retrieval evaluation — recall@K (the sweep queries) treats
    every true neighbor alike; ranking quality needs position-aware
    metrics. For each query: grade the exact top-{K} neighbors
    ``K+1−true_rank`` (best neighbor = grade {K}), score the IVF
    (nprobe=1) top-{K} list by ``nDCG@K = Σ grade_i/log2(i+1) / IDCG``
    (IDCG is the same constant for every query — the full exact list
    always exists), and take the reciprocal rank of the TRUE nearest
    neighbor in the IVF list (MRR). Output: query count, mean nDCG, MRR,
    perfect-list count, and mean top-{K} overlap — the eval table an ANN
    deployment reviews before trading recall for probe count.

    Scale shape: the exact side is the broadcast-query brute-force pass
    (the audit — at 100 TB it runs on a query SAMPLE); the IVF side is the
    bucket equi-join; both lists drop vectors before their windows, and
    the final aggregate is one row."""
    e = _vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    exact_scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    exact = (
        exact_scored.withColumn("t_rank", F.row_number().over(w))
        .filter(F.col("t_rank") <= _NDCG_K)
        .select("q_id", "neighbor_id", "t_rank")
    )
    assign = materialize(_ivf_assign(e))
    qa = assign.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    )
    approx = (
        qa.join(assign, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .withColumn("a_rank", F.row_number().over(w))
        .filter(F.col("a_rank") <= _NDCG_K)
        .select("q_id", "neighbor_id", "a_rank")
    )
    rel = F.coalesce(
        F.lit(_NDCG_K + 1) - F.col("t_rank"), F.lit(0)
    ).cast("double")
    per_q = (
        approx.join(exact, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(
            # div-safe: _IDCG and log2(a_rank+1>=2) are positive constants
            F.round(
                F.sum(rel / F.log2(F.col("a_rank") + 1)) / F.lit(_IDCG), 6
            ).alias("ndcg"),
            F.round(
                F.coalesce(
                    F.max(
                        F.when(
                            F.col("t_rank") == 1,
                            # div-safe: a_rank is a ROW_NUMBER >= 1
                            F.lit(1.0) / F.col("a_rank"),
                        )
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("rr"),
            F.sum(F.col("t_rank").isNotNull().cast("long")).alias("overlap"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("ndcg"), 4).alias("mean_ndcg"),
        F.round(F.avg("rr"), 4).alias("mrr"),
        F.sum((F.col("ndcg") >= 0.9999).cast("long")).alias("n_perfect"),
        F.round(F.avg("overlap"), 4).alias("mean_overlap"),
    )


_NDCG_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {_QUERY_MOD} = 0),
exact AS (
  SELECT q_id, neighbor_id, rn AS t_rank FROM (
    SELECT q_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY ROUND(list_cosine_similarity(qv, e.v), 6) DESC,
                                       e.vec_id) AS rn
    FROM q, e WHERE e.vec_id <> q_id)
  WHERE rn <= {_NDCG_K}
),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM e, cent)
  WHERE arn = 1
),
qa AS (SELECT vec_id AS q_id, v AS qv, bucket FROM assign
       WHERE vec_id % {_QUERY_MOD} = 0),
approx AS (
  SELECT q_id, neighbor_id, rn AS a_rank FROM (
    SELECT q_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY ROUND(list_cosine_similarity(qv, a.v), 6) DESC,
                                       a.vec_id) AS rn
    FROM qa JOIN assign a USING (bucket) WHERE a.vec_id <> q_id)
  WHERE rn <= {_NDCG_K}
),
per_q AS (
  SELECT ap.q_id,
         -- div-safe: IDCG and log2(a_rank+1>=2) are positive constants
         ROUND(SUM(CAST(COALESCE({_NDCG_K + 1} - x.t_rank, 0) AS DOUBLE)
                   / log2(ap.a_rank + 1)) / {_IDCG!r}, 6) AS ndcg,
         -- div-safe: a_rank is a ROW_NUMBER >= 1
         ROUND(COALESCE(MAX(CASE WHEN x.t_rank = 1
                                 THEN 1.0 / ap.a_rank END), 0.0), 6) AS rr,
         SUM(CASE WHEN x.t_rank IS NOT NULL THEN 1 ELSE 0 END) AS overlap
  FROM approx ap
  LEFT JOIN exact x ON x.q_id = ap.q_id AND x.neighbor_id = ap.neighbor_id
  GROUP BY ap.q_id
)
SELECT COUNT(*) AS n_queries,
       ROUND(AVG(ndcg), 4) AS mean_ndcg,
       ROUND(AVG(rr), 4) AS mrr,
       CAST(SUM(CASE WHEN ndcg >= 0.9999 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_perfect,
       ROUND(AVG(overlap), 4) AS mean_overlap
FROM per_q
"""


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical + dense (IVF) fused by reciprocal-rank
# fusion, evaluated against the exact dense ranking
# --------------------------------------------------------------------------

#: RRF smoothing constant (the value from the original RRF paper).
_RRF_K = 60
#: per-source candidate list depth feeding the fusion.
_HYBRID_TOPN = 10


def hybrid_bm25_dense_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION retrieval ensemble: a lexical BM25 ranking and an
    approximate dense (IVF nprobe=1) ranking over the SAME query set,
    fused per query by reciprocal-rank fusion
    ``rrf = Σ 1/({k} + rank)``, then the fused top-{K} graded against the
    exact dense ranking with the :func:`ann_ndcg_eval` metrics (nDCG@{K},
    MRR, overlap) plus the fusion-diagnostic ``mean_src_both`` (how many
    fused hits both sources agreed on). Queries are the vec_id % {mod} = 0
    vectors; each query's lexical form is its own document's two
    highest-tf terms of length ≥ 4 (data-derived, deterministic) — the
    documents and embeddings tables share the id space by construction.

    Scale shape: the lexical side is the inverted-index equi-join from
    ``text_bm25_search`` (postings of ≤ 2·|Q| terms, query frame
    broadcast); the dense side is the IVF bucket equi-join; fusion is a
    |Q|·{topn}-row full-outer join; only the exact-truth audit is a
    broadcast brute-force pass (at 100 TB it runs on a query SAMPLE, as in
    the recall sweeps)."""
    from datafusion_impl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_corpus"), F.avg("dl").alias("avgdl")
    )
    qw = Window.partitionBy("q_id").orderBy(F.desc("qtf"), F.asc("term"))
    qterms = (
        tf.filter(
            (F.col("doc_id") % _QUERY_MOD == 0) & (F.length("term") >= 4)
        )
        .select(
            F.col("doc_id").alias("q_id"), "term", F.col("tf").alias("qtf")
        )
        .withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= 2)
        .join(dfq, "term")
        .select("q_id", "term", "df")
    )
    # div-safe: df + 0.5 > 0; tf >= 1 so the BM25 tf denominator > 0;
    # avgdl averages positive doc lengths
    idf = F.log(
        (F.col("n_corpus") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    s = idf * (
        # div-safe: tf >= 1 so the BM25 tf denominator > 0; avgdl > 0
        (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl"))))
    )
    lw = Window.partitionBy("q_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("q_id"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("q_id", "doc_id", F.round(s, 6).alias("s"))
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
        .withColumn("lex_rank", F.row_number().over(lw))
        .filter(F.col("lex_rank") <= _HYBRID_TOPN)
        .select("q_id", "doc_id", "lex_rank")
    )

    e = _vectors(spark, sf_dir)
    assign = materialize(_ivf_assign(e))
    qa = assign.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        "bucket",
    )
    # div-safe: unit-norm embeddings / nonzero norms (data contract)
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    dw = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    dense = (
        qa.join(assign, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("doc_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .withColumn("dense_rank", F.row_number().over(dw))
        .filter(F.col("dense_rank") <= _HYBRID_TOPN)
        .select("q_id", "doc_id", "dense_rank")
    )

    # div-safe: _RRF_K + rank >= 61
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("dense_rank")), F.lit(0.0)
        ),
        6,
    )
    fw = Window.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    fused = (
        lex.join(dense, ["q_id", "doc_id"], "full_outer")
        .select(
            "q_id",
            "doc_id",
            rrf.alias("rrf"),
            (
                F.col("lex_rank").isNotNull()
                & F.col("dense_rank").isNotNull()
            )
            .cast("long")
            .alias("in_both"),
        )
        .withColumn("f_rank", F.row_number().over(fw))
        .filter(F.col("f_rank") <= _NDCG_K)
    )

    q = e.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    ew = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("doc_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .withColumn("t_rank", F.row_number().over(ew))
        .filter(F.col("t_rank") <= _NDCG_K)
        .select("q_id", "doc_id", "t_rank")
    )

    rel = F.coalesce(
        F.lit(_NDCG_K + 1) - F.col("t_rank"), F.lit(0)
    ).cast("double")
    per_q = (
        fused.join(exact, ["q_id", "doc_id"], "left")
        .groupBy("q_id")
        .agg(
            # div-safe: _IDCG and log2(f_rank+1 >= 2) are positive constants
            F.round(
                F.sum(rel / F.log2(F.col("f_rank") + 1)) / F.lit(_IDCG), 6
            ).alias("ndcg"),
            F.round(
                F.coalesce(
                    F.max(
                        F.when(
                            F.col("t_rank") == 1,
                            # div-safe: f_rank is a ROW_NUMBER >= 1
                            F.lit(1.0) / F.col("f_rank"),
                        )
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("rr"),
            F.sum(F.col("t_rank").isNotNull().cast("long")).alias("overlap"),
            F.sum("in_both").alias("n_both"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("ndcg"), 4).alias("mean_ndcg"),
        F.round(F.avg("rr"), 4).alias("mrr"),
        F.round(F.avg("overlap"), 4).alias("mean_overlap"),
        F.round(F.avg("n_both"), 4).alias("mean_src_both"),
    )


def _hybrid_rrf_oracle() -> str:
    from datafusion_impl_spark.operators.text import _DUCK_TOKENS

    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS.format(col='text')}) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_corpus, AVG(dl) AS avgdl FROM dl),
qterms AS (
  SELECT t.q_id, t.term, dfq.df FROM (
    SELECT doc_id AS q_id, term,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tf DESC, term) AS rn
    FROM tf WHERE doc_id % {_QUERY_MOD} = 0 AND length(term) >= 4
  ) t JOIN dfq USING (term)
  WHERE t.rn <= 2
),
lex AS (
  SELECT q_id, doc_id, lex_rank FROM (
    SELECT q_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY bm25 DESC, doc_id) AS lex_rank
    FROM (
      SELECT q.q_id, tf.doc_id,
             -- div-safe: df+0.5 > 0; tf >= 1; avgdl > 0
             ROUND(SUM(ROUND(ln((n_corpus - q.df + 0.5) / (q.df + 0.5) + 1.0)
                   * ((tf.tf * 2.2)
                      / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / avgdl)))),
                   6)), 6) AS bm25
      FROM tf
      JOIN qterms q USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      WHERE tf.doc_id <> q.q_id
      GROUP BY q.q_id, tf.doc_id))
  WHERE lex_rank <= {_HYBRID_TOPN}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM e, cent)
  WHERE arn = 1
),
qa AS (SELECT vec_id AS q_id, v AS qv, bucket FROM assign
       WHERE vec_id % {_QUERY_MOD} = 0),
dense AS (
  SELECT q_id, doc_id, dense_rank FROM (
    SELECT q_id, a.vec_id AS doc_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY ROUND(list_cosine_similarity(qv, a.v), 6) DESC,
                                       a.vec_id) AS dense_rank
    FROM qa JOIN assign a USING (bucket) WHERE a.vec_id <> q_id)
  WHERE dense_rank <= {_HYBRID_TOPN}
),
fused AS (
  SELECT q_id, doc_id, rrf, in_both,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY rrf DESC, doc_id) AS f_rank
  FROM (
    SELECT COALESCE(l.q_id, d.q_id) AS q_id,
           COALESCE(l.doc_id, d.doc_id) AS doc_id,
           -- div-safe: {_RRF_K} + rank >= {_RRF_K + 1}
           ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + d.dense_rank), 0.0), 6) AS rrf,
           CASE WHEN l.doc_id IS NOT NULL AND d.doc_id IS NOT NULL
                THEN 1 ELSE 0 END AS in_both
    FROM lex l
    FULL OUTER JOIN dense d ON l.q_id = d.q_id AND l.doc_id = d.doc_id)
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {_QUERY_MOD} = 0),
exact AS (
  SELECT q_id, doc_id, rn AS t_rank FROM (
    SELECT q_id, e.vec_id AS doc_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY ROUND(list_cosine_similarity(qv, e.v), 6) DESC,
                                       e.vec_id) AS rn
    FROM q, e WHERE e.vec_id <> q_id)
  WHERE rn <= {_NDCG_K}
),
per_q AS (
  SELECT f.q_id,
         -- div-safe: IDCG and log2(f_rank+1 >= 2) are positive constants
         ROUND(SUM(CAST(COALESCE({_NDCG_K + 1} - x.t_rank, 0) AS DOUBLE)
                   / log2(f.f_rank + 1)) / {_IDCG!r}, 6) AS ndcg,
         -- div-safe: f_rank is a ROW_NUMBER >= 1
         ROUND(COALESCE(MAX(CASE WHEN x.t_rank = 1
                                 THEN 1.0 / f.f_rank END), 0.0), 6) AS rr,
         SUM(CASE WHEN x.t_rank IS NOT NULL THEN 1 ELSE 0 END) AS overlap,
         SUM(f.in_both) AS n_both
  FROM fused f
  LEFT JOIN exact x ON x.q_id = f.q_id AND x.doc_id = f.doc_id
  WHERE f.f_rank <= {_NDCG_K}
  GROUP BY f.q_id
)
SELECT COUNT(*) AS n_queries,
       ROUND(AVG(ndcg), 4) AS mean_ndcg,
       ROUND(AVG(rr), 4) AS mrr,
       ROUND(AVG(overlap), 4) AS mean_overlap,
       ROUND(AVG(n_both), 4) AS mean_src_both
FROM per_q
"""


#: Semantic-decontamination threshold (cosine) and eval-set selector.
_DECON_TAU = 0.8
_DECON_EVAL_MOD = 50


def decontamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space sibling of
    the n-gram ``benchmark_decontamination``: paraphrased or lightly
    edited eval contamination that shares no 5-gram still lands next to
    its source in embedding space, so production pipelines (GPT-3 appendix
    C onward) run BOTH screens. Held-out "benchmark" vectors (vec_id %
    {mod} = 0) are screened against the training corpus through the IVF
    coarse index: a same-cell training vector with cosine >= {tau} marks
    the eval vector contaminated. Reported per cell: eval/train census,
    contaminated count, and the worst offender similarity.

    nprobe=1 by design (same single-cell probe as ``ann_ivf_topk``):
    recall of the screen is the IVF cell-assignment recall, which the
    nprobe sweep query already characterizes; the DuckDB oracle replays
    the same single-cell probe, so the check is exact about what the
    screen actually computes.

    Scale shape: the screen is an equi-join on the cell id — on a
    cell-partitioned corpus layout a pruned scan per eval vector, never a
    corpus cross-join; the flag aggregates per eval vector before the
    8-row cell census."""
    e = _vectors(spark, sf_dir)
    assign = materialize(_ivf_assign(e))
    ev = assign.filter(F.col("vec_id") % _DECON_EVAL_MOD == 0).select(
        F.col("vec_id").alias("e_id"),
        F.col("v").alias("ev"),
        F.col("nrm").alias("e_nrm"),
        "bucket",
    )
    tr = assign.filter(F.col("vec_id") % _DECON_EVAL_MOD != 0)
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    cos = _dot(F.col("ev"), F.col("v")) / (F.col("e_nrm") * F.col("nrm"))
    # LEFT join (r8, ADVICE): an eval vector whose cell holds zero training
    # vectors must still be COUNTED in n_eval (max_c stays NULL, so it can
    # never flag contaminated) — otherwise the per-cell eval census
    # undercounts and sum(n_eval) != |eval set|.
    per_eval = (
        ev.join(tr, "bucket", "left")
        .select("bucket", "e_id", F.round(cos, 6).alias("c"))
        .groupBy("bucket", "e_id")
        .agg(F.max("c").alias("max_c"))
    )
    flags = per_eval.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.count_if(F.col("max_c") >= _DECON_TAU)
        .cast("long")
        .alias("n_contaminated"),
        F.round(F.max("max_c"), 6).alias("worst_cos"),
    )
    census = tr.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_train"))
    return (
        flags.join(census, "bucket", "full_outer")
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.coalesce("n_eval", F.lit(0).cast("long")).alias("n_eval"),
            F.coalesce("n_train", F.lit(0).cast("long")).alias("n_train"),
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
            "worst_cos",
        )
        .orderBy("bucket")
    )


_DECON_SEMANTIC_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM e, cent)
  WHERE arn = 1
),
ev AS (SELECT vec_id AS e_id, v AS evec, bucket FROM assign
       WHERE vec_id % {_DECON_EVAL_MOD} = 0),
tr AS (SELECT * FROM assign WHERE vec_id % {_DECON_EVAL_MOD} <> 0),
per_eval AS (
  -- LEFT join mirrors the Spark side: eval-only cells keep their eval
  -- census row with max_c NULL (never contaminated).
  SELECT ev.bucket, ev.e_id,
         MAX(ROUND(list_cosine_similarity(ev.evec, tr.v), 6)) AS max_c
  FROM ev LEFT JOIN tr USING (bucket)
  GROUP BY ev.bucket, ev.e_id
),
flags AS (
  SELECT bucket, COUNT(*) AS n_eval,
         count_if(max_c >= {_DECON_TAU}) AS n_contaminated,
         ROUND(MAX(max_c), 6) AS worst_cos
  FROM per_eval GROUP BY bucket
),
census AS (SELECT bucket, COUNT(*) AS n_train FROM tr GROUP BY bucket)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(COALESCE(f.n_eval, 0) AS BIGINT) AS n_eval,
       CAST(COALESCE(c.n_train, 0) AS BIGINT) AS n_train,
       CAST(COALESCE(f.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       f.worst_cos
FROM census c FULL OUTER JOIN flags f USING (bucket)
ORDER BY bucket
"""


def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding space
    with the IVF coarse quantizer, then inside each cluster drop every vector
    that has a *lower-id* semantic near-duplicate (rounded cosine ≥ 0.4) —
    the keep-first-occurrence approximation of SemDeDup's epsilon-ball
    pruning (Abbas et al. 2023), chosen because it is a single relational
    pass (EXISTS) instead of an iterative greedy sweep.

    Emits the per-cluster dedup profile (cluster size, drops, drop fraction)
    — the report a curation run uses to pick its threshold. Scale shape: the
    pairing is quadratic ONLY within a cluster; at 100 TB the quantizer's
    centroid count grows with the corpus (SemDeDup uses ~√N clusters), so
    per-cluster population — and with it the within-cluster product — stays
    bounded, and clusters shard across executors via the bucket equi-join."""
    e = _vectors(spark, sf_dir)
    assign = materialize(_ivf_assign(e))
    a = assign.select(
        "bucket",
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        "bucket",
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # div-safe: unit-norm embeddings by data contract
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("ia") < F.col("ib"))
        .filter(F.round(cos, 6) >= _NEAR_DUP_T)
        .select("bucket", F.col("ib").alias("vec_id"))
        .distinct()
    )
    stats = assign.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))
    d = dropped.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_dropped"))
    return (
        stats.join(d, "bucket", "left")
        .select(
            "bucket",
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("long")).alias("n_dropped"),
            # div-safe: n_vecs is a GROUP BY count >= 1
            F.round(
                F.coalesce(F.col("n_dropped"), F.lit(0).cast("long"))
                / F.col("n_vecs"),
                4,
            ).alias("drop_frac"),
        )
        .orderBy("bucket")
    )


_SEMANTIC_DEDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM e, cent)
  WHERE arn = 1
),
dropped AS (
  SELECT DISTINCT a.bucket, b.vec_id
  FROM assign a JOIN assign b USING (bucket)
  WHERE a.vec_id < b.vec_id
    AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= {_NEAR_DUP_T}
),
stats AS (SELECT bucket, COUNT(*) AS n_vecs FROM assign GROUP BY bucket),
d AS (SELECT bucket, COUNT(*) AS n_dropped FROM dropped GROUP BY bucket)
SELECT s.bucket, s.n_vecs,
       COALESCE(d.n_dropped, 0) AS n_dropped,
       -- div-safe: group counts n_vecs/n_index are >= 1
       ROUND(COALESCE(d.n_dropped, 0) / CAST(s.n_vecs AS DOUBLE), 4) AS drop_frac
FROM stats s LEFT JOIN d USING (bucket)
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# 3. Sign-random-projection LSH near-duplicate pairs
# --------------------------------------------------------------------------

def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection without an all-pairs product:
    4 LSH tables × 4 signed hyperplane projections bucket every vector into
    one of 16 buckets per table; only same-(table, bucket) pairs are scored
    exactly, and pairs with cosine ≥ 0.4 are emitted.

    The hyperplane weights derive from the portable md5 hash of
    ``"{table}_{plane}_{dim}"`` — both engines rebuild the identical
    hyperplanes, so bucket assignments (and therefore the emitted pair set)
    are fully deterministic and oracle-checked."""
    # vectors + norms feed three consumers (bucketing, both sides of the
    # verify join) — materialize once instead of re-scanning + re-folding
    # the 64-element norm per consumer (see operators.materialize).
    e = materialize(_vectors(spark, sf_dir))
    # 16 (table, plane) rows, each carrying a 64-dim hyperplane as an array —
    # built from pure expressions, broadcast everywhere, never shuffled.
    planes = (
        spark.range(_LSH_TABLES)
        .select(F.col("id").alias("t"))
        .crossJoin(spark.range(_LSH_PLANES).select(F.col("id").alias("p")))
        .select(
            "t",
            "p",
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda d: (
                    md5_long(
                        F.concat_ws(
                            "_",
                            F.col("t").cast("string"),
                            F.col("p").cast("string"),
                            d.cast("string"),
                        )
                    )
                    % 2001
                    - 1000
                )
                / 1000.0,
            ).alias("w"),
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("w"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    buckets = materialize(  # self-joined below: 4 rows/vector, tiny
        e.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "t",
            F.when(dot > 0, F.pow(F.lit(2), F.col("p")).cast("long"))
            .otherwise(F.lit(0))
            .alias("bit"),
        )
        .groupBy("vec_id", "t")
        .agg(F.sum("bit").alias("bucket"))
    )
    # grouped pair expansion per (table, bucket) — one aggregation replaces
    # the bucket self-join with identical distinct pairs (dedup._grouped_pairs)
    cand = _grouped_pairs(buckets, ["t", "bucket"], id_col="vec_id").select(
        F.col("da").alias("vec_a"), F.col("db").alias("vec_b")
    )
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na_"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb_"),
    )
    # div-safe: unit-norm embeddings by data contract
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na_") * F.col("nb_")), 6
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _NEAR_DUP_T)
        .orderBy("vec_a", "vec_b")
    )


_NEAR_DUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes AS (
  SELECT t, p,
         list_transform(generate_series(1, 64),
           d -> (CAST(('0x' || substr(md5(CONCAT_WS('_', t, p, d)),1,15)) AS BIGINT)
                 % 2001 - 1000) / 1000.0) AS w
  FROM (SELECT unnest(generate_series(0, {_LSH_TABLES - 1})) AS t) ts,
       (SELECT unnest(generate_series(0, {_LSH_PLANES - 1})) AS p) ps
),
bits AS (
  SELECT vec_id, t,
         CASE WHEN list_sum(list_transform(generate_series(1, 64),
                                           i -> v[i] * w[i])) > 0
              THEN CAST(POW(2, p) AS BIGINT) ELSE 0 END AS bit
  FROM e, planes
),
buckets AS (
  SELECT vec_id, t, SUM(bit) AS bucket FROM bits GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
FROM cand
JOIN e ea ON ea.vec_id = vec_a
JOIN e eb ON eb.vec_id = vec_b
WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= {_NEAR_DUP_T}
ORDER BY vec_a, vec_b
"""


# --------------------------------------------------------------------------
# 4. Label centroids — the vector-aggregation primitive (k-means E-step /
#    IVF codebook training)
# --------------------------------------------------------------------------

def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean vector per label, emitted flat as
    (label, dim, centroid): posexplode → groupBy(label, dim) → avg.
    One shuffle keyed by (label, dim) — 640 keys here, and at 100 TB the
    map-side partial aggregation reduces each partition to ≤ |labels|×64 rows
    before the exchange, so shuffle volume is constant in corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    el = emb.select("label", F.posexplode("v").alias("pos", "val")).select(
        "label", (F.col("pos") + 1).cast("long").alias("dim"), "val"
    )
    return (
        el.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("val"), 6).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


_CENTROIDS_SQL = """
WITH el AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS dim,
         unnest(embedding::DOUBLE[]) AS val
  FROM embeddings
)
SELECT label, dim, COUNT(*) AS n_vecs, ROUND(AVG(val), 6) AS centroid
FROM el
GROUP BY label, dim
ORDER BY label, dim
"""


# --------------------------------------------------------------------------
# 5b. IVF nprobe sweep (the accuracy/cost tuning curve)
# --------------------------------------------------------------------------

def ann_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: average recall@3 of nprobe=1 vs nprobe=2
    against the exact top-3 — the measurement that picks the probe count
    for a target accuracy. One centroid-assignment pass is shared (it
    feeds corpus buckets, query probe lists, and the ground-truth side);
    the probe search scores each (query, probe) bucket via equi-join, so
    cost scales with nprobe/branching, never the full corpus; the exact
    ground truth is the same broadcast one-pass scorer as
    ``ann_cosine_topk``."""
    e = _vectors(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    c_cos = _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("c_nrm"))
    aw = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("cid"))
    ranked_cent = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "nrm", "cid", F.round(c_cos, 6).alias("c_sim"))
        .withColumn("arn", F.row_number().over(aw))
    )
    assign = materialize(
        ranked_cent.filter(F.col("arn") == 1).select(
            "vec_id", "v", "nrm", F.col("cid").alias("bucket")
        )
    )
    probes = ranked_cent.filter(
        (F.col("vec_id") % _QUERY_MOD == 0) & (F.col("arn") <= 2)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        F.col("cid").alias("bucket"),
        F.col("arn").alias("probe_rank"),
    )
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    probe_scored = (
        probes.join(assign, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "probe_rank",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    levels = spark.range(1, 3).select(F.col("id").cast("int").alias("nprobe"))
    leveled = probe_scored.join(
        F.broadcast(levels), probe_scored.probe_rank <= F.col("nprobe")
    )
    lw = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    ivf_topk = (
        leveled.withColumn("rn", F.row_number().over(lw))
        .filter(F.col("rn") <= _IVF_TOPK)
        .select("nprobe", "q_id", "neighbor_id")
    )
    # exact ground truth: one broadcast pass over the corpus
    q = assign.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    exact_scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
    ew = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    exact_topk = (
        exact_scored.withColumn("rn", F.row_number().over(ew))
        .filter(F.col("rn") <= _IVF_TOPK)
        .select("q_id", "neighbor_id")
    )
    hits = ivf_topk.join(exact_topk, ["q_id", "neighbor_id"]).groupBy(
        "nprobe", "q_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    per_q = (
        ivf_topk.select("nprobe", "q_id")
        .distinct()
        .join(hits, ["nprobe", "q_id"], "left")
        .select(
            "nprobe",
            "q_id",
            (F.coalesce("n_hit", F.lit(0)) / float(_IVF_TOPK)).alias("recall"),
        )
    )
    return (
        per_q.groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("recall"), 4).alias("avg_recall_at_3"),
        )
        .orderBy("nprobe")
    )


_IVF_SWEEP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
ranked_cent AS (
  SELECT e.vec_id, e.v, cent.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                                     cent.cid) AS arn
  FROM e, cent),
assign AS (
  SELECT vec_id, v, cid AS bucket FROM ranked_cent WHERE arn = 1),
probes AS (
  SELECT vec_id AS q_id, v AS qv, cid AS bucket, arn AS probe_rank
  FROM ranked_cent
  WHERE vec_id % {_QUERY_MOD} = 0 AND arn <= 2),
probe_scored AS (
  SELECT q_id, probe_rank, a.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(qv, a.v), 6) AS cos_sim
  FROM probes JOIN assign a USING (bucket)
  WHERE a.vec_id <> q_id),
ivf_topk AS (
  SELECT nprobe, q_id, neighbor_id FROM (
    SELECT l.nprobe, s.q_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY l.nprobe, s.q_id
                              ORDER BY s.cos_sim DESC, s.neighbor_id) AS rn
    FROM probe_scored s
    JOIN (SELECT unnest(generate_series(1, 2)) AS nprobe) l
      ON s.probe_rank <= l.nprobe) r
  WHERE rn <= {_IVF_TOPK}),
q AS (SELECT vec_id AS q_id, v AS qv FROM assign WHERE vec_id % {_QUERY_MOD} = 0),
exact_topk AS (
  SELECT q_id, neighbor_id FROM (
    SELECT q_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY ROUND(list_cosine_similarity(qv, e.v), 6) DESC,
                                       e.vec_id) AS rn
    FROM q, e
    WHERE e.vec_id <> q_id) r
  WHERE rn <= {_IVF_TOPK}),
hits AS (
  SELECT i.nprobe, i.q_id, COUNT(*) AS n_hit
  FROM ivf_topk i JOIN exact_topk x
    ON i.q_id = x.q_id AND i.neighbor_id = x.neighbor_id
  GROUP BY i.nprobe, i.q_id),
per_q AS (
  SELECT d.nprobe, d.q_id,
         -- div-safe: _IVF_TOPK is a nonzero module constant
         COALESCE(h.n_hit, 0) / CAST({_IVF_TOPK} AS DOUBLE) AS recall
  FROM (SELECT DISTINCT nprobe, q_id FROM ivf_topk) d
  LEFT JOIN hits h ON d.nprobe = h.nprobe AND d.q_id = h.q_id)
SELECT CAST(nprobe AS INTEGER) AS nprobe, COUNT(*) AS n_queries,
       ROUND(AVG(recall), 4) AS avg_recall_at_3
FROM per_q
GROUP BY nprobe
ORDER BY nprobe
"""


# --------------------------------------------------------------------------
# 6. Matryoshka truncation evaluation (recall of low-dim prefixes)
# --------------------------------------------------------------------------

#: prefix length for the truncated index (Matryoshka-style: serve the first
#: D' dims, keep the full vector only for re-ranking).
_TRUNC_DIMS = 16


def ann_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for dimension-truncated ANN: per query vector, the
    recall@5 of a 16-dim-prefix cosine index against the exact full-dim
    top-5 — the measurement that decides whether a Matryoshka/truncated
    index is safe to serve.

    ONE corpus pass computes both cosines (full and truncated) per
    (query, candidate); the two rank windows share the same partition key,
    so the whole evaluation is broadcast-join → one shuffle on q_id →
    groupBy. At 100 TB the corpus is scanned once, never twice."""
    e = _vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    vt = F.slice(F.col("v"), 1, _TRUNC_DIMS)
    qt = F.slice(F.col("qv"), 1, _TRUNC_DIMS)
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    cos_full = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    cos_trunc = _dot(qt, vt) / (_norm(qt) * _norm(vt))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos_full, 6).alias("c_full"),
            F.round(cos_trunc, 6).alias("c_trunc"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("c_full"), F.asc("neighbor_id"))
    wt = Window.partitionBy("q_id").orderBy(F.desc("c_trunc"), F.asc("neighbor_id"))
    ranked = scored.select(
        "q_id",
        (F.row_number().over(wf) <= _TOPK).cast("long").alias("in_full"),
        (F.row_number().over(wt) <= _TOPK).cast("long").alias("in_trunc"),
    )
    return (
        ranked.groupBy("q_id")
        .agg(
            F.sum(F.col("in_full") * F.col("in_trunc")).alias("n_common"),
            F.round(
                F.sum(F.col("in_full") * F.col("in_trunc")) / float(_TOPK), 4
            ).alias("recall_at_5"),
        )
        .orderBy("q_id")
    )


_TRUNC_RECALL_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {_QUERY_MOD} = 0),
scored AS (
  SELECT q_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(qv, v), 6) AS c_full,
         ROUND(list_cosine_similarity(list_slice(qv, 1, {_TRUNC_DIMS}),
                                      list_slice(v, 1, {_TRUNC_DIMS})), 6) AS c_trunc
  FROM q, e
  WHERE e.vec_id <> q_id),
ranked AS (
  SELECT q_id,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY c_full DESC, neighbor_id) <= {_TOPK} THEN 1 ELSE 0 END AS in_full,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY c_trunc DESC, neighbor_id) <= {_TOPK} THEN 1 ELSE 0 END AS in_trunc
  FROM scored)
SELECT q_id, CAST(SUM(in_full * in_trunc) AS BIGINT) AS n_common,
       ROUND(CAST(SUM(in_full * in_trunc) AS DOUBLE) / {_TOPK}, 4) AS recall_at_5
FROM ranked
GROUP BY q_id
ORDER BY q_id
"""


#: Arriving-batch selector for incremental index maintenance.
_ARRIVE_MOD = 10


def ann_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: vectors with ``vec_id % 10 == 9``
    play an arriving batch appended to an index built over the REST of the
    corpus. The batch is assigned to the existing coarse codebook (the
    deterministic ``vec_id < 8`` centroids — all on the index side) with one
    broadcast map — per bucket: current index size, arrivals, mean arrival-
    to-centroid similarity, and the growth fraction a rebalance monitor
    watches.

    The 100 TB point: appending a batch is a broadcast assignment over the
    BATCH only plus a metadata update — the existing index is never
    re-shuffled or re-clustered; re-clustering (embedding_kmeans_clusters)
    is the separate, rarer maintenance action this report tells you to
    schedule when growth skews."""
    e = _vectors(spark, sf_dir)
    arriving = e.filter(F.col("vec_id") % _ARRIVE_MOD == _ARRIVE_MOD - 1)
    index = e.filter(F.col("vec_id") % _ARRIVE_MOD != _ARRIVE_MOD - 1)
    cent = index.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
    c_cos = _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("c_nrm"))
    aw = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("cid"))

    def assign(side: DataFrame) -> DataFrame:
        return (
            side.crossJoin(F.broadcast(cent))
            .select("vec_id", "cid", F.round(c_cos, 6).alias("c_sim"))
            .withColumn("arn", F.row_number().over(aw))
            .filter(F.col("arn") == 1)
            .select("vec_id", F.col("cid").alias("bucket"), "c_sim")
        )

    idx_sizes = assign(index).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_index")
    )
    arr = assign(arriving).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_arriving"),
        F.round(F.avg("c_sim"), 4).alias("avg_arrival_sim"),
    )
    return (
        idx_sizes.join(arr, "bucket", "left_outer")
        .select(
            "bucket",
            "n_index",
            F.coalesce("n_arriving", F.lit(0)).alias("n_arriving"),
            F.coalesce("avg_arrival_sim", F.lit(0.0)).alias("avg_arrival_sim"),
            F.round(
                # div-safe: group counts n_vecs/n_index are >= 1
                F.coalesce("n_arriving", F.lit(0)) / F.col("n_index"), 6
            ).alias("growth_frac"),
        )
        .orderBy("bucket")
    )


_IVF_INCR_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
arriving AS (SELECT * FROM e WHERE vec_id % {_ARRIVE_MOD} = {_ARRIVE_MOD - 1}),
idx AS (SELECT * FROM e WHERE vec_id % {_ARRIVE_MOD} <> {_ARRIVE_MOD - 1}),
cent AS (SELECT vec_id AS cid, v AS cv FROM idx WHERE vec_id < {_N_CENTROIDS}),
assign_idx AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT i.vec_id, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY i.vec_id
                              ORDER BY ROUND(list_cosine_similarity(i.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM idx i, cent)
  WHERE arn = 1),
assign_arr AS (
  SELECT vec_id, cid AS bucket, c_sim FROM (
    SELECT a.vec_id, cent.cid,
           ROUND(list_cosine_similarity(a.v, cent.cv), 6) AS c_sim,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY ROUND(list_cosine_similarity(a.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM arriving a, cent)
  WHERE arn = 1),
idx_sizes AS (SELECT bucket, COUNT(*) AS n_index FROM assign_idx GROUP BY bucket),
arr AS (SELECT bucket, COUNT(*) AS n_arriving,
               ROUND(AVG(c_sim), 4) AS avg_arrival_sim
        FROM assign_arr GROUP BY bucket)
SELECT s.bucket, s.n_index,
       CAST(COALESCE(a.n_arriving, 0) AS BIGINT) AS n_arriving,
       COALESCE(a.avg_arrival_sim, 0.0) AS avg_arrival_sim,
       -- div-safe: group counts n_vecs/n_index are >= 1
       ROUND(COALESCE(a.n_arriving, 0) / s.n_index, 6) AS growth_frac
FROM idx_sizes s LEFT JOIN arr a USING (bucket)
ORDER BY s.bucket
"""


# --------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# --------------------------------------------------------------------------

#: PQ geometry: 64-dim vectors → _PQ_M subspaces of _PQ_DSUB dims, codebook
#: of _PQ_K entries per subspace (codes fit a byte at any realistic K).
_PQ_M = 8
_PQ_DSUB = 8
_PQ_K = 8


def _pq_subvectors(vecs: DataFrame, vcol: str = "v") -> DataFrame:
    """Slice a (vec_id, <vcol>, ...) frame into the PQ subvector table
    (vec_id [, carried cols], m, sv, s_n2)."""
    carry = [c for c in vecs.columns if c != vcol]
    return materialize(
        vecs.select(
            *carry,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {_PQ_M - 1}),"
                    f" m -> slice({vcol}, m * {_PQ_DSUB} + 1, {_PQ_DSUB}))"
                )
            ).alias("m", "sv"),
        ).withColumn("s_n2", _dot(F.col("sv"), F.col("sv")))
    )


def _pq_assign(sub_df: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest centroid per (vec_id, m) by squared L2 (rounded rank key,
    cid tiebreak — the repo's tie-proof argmin convention).

    The argmin is a struct-min AGGREGATION, not a rank-1 window: min of
    struct(rounded_sq, cid) picks the lexicographic minimum — exactly the
    window's (rounded key asc, cid asc) first row — but aggregates
    map-side, so the exchange carries one partial row per (vec_id, m)
    instead of every (vec_id, m, centroid) scored row, and no sort runs
    (guide §2.3: aggregate before you shuffle; r17)."""
    sq = F.col("s_n2") + F.col("c_n2") - 2 * _dot(F.col("sv"), F.col("cv"))
    return (
        sub_df.join(F.broadcast(cent), "m")
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.round(sq, 4).alias("k"), F.col("cid"))).alias("mn"))
        .select("vec_id", "m", F.col("mn.cid").alias("code"))
    )


def _pq_train(sub: DataFrame) -> DataFrame:
    """Deterministic PQ codebook per subspace — seeds = the first ``_PQ_K``
    vectors' subvectors, one Lloyd round (L2 assign → re-center, means
    rounded to 6). Returns the materialized (m, cid, cv, c_n2) codebook."""
    cent0 = sub.filter(F.col("vec_id") < _PQ_K).select(
        "m",
        F.col("vec_id").alias("cid"),
        F.col("sv").alias("cv"),
        F.col("s_n2").alias("c_n2"),
    )
    a1 = _pq_assign(sub, cent0)
    # one Lloyd re-centering round: per (m, cid, dim) mean, rounded to 6
    dims = (
        a1.join(sub.select("vec_id", "m", "sv"), ["vec_id", "m"])
        .select("m", F.col("code").alias("cid"), F.posexplode("sv").alias("dim", "x"))
        .groupBy("m", "cid", "dim")
        .agg(F.round(F.avg("x"), 6).alias("mx"))
    )
    cent1 = (
        dims.groupBy("m", "cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "mx"))),
                lambda st: st["mx"],
            ).alias("cv")
        )
    )
    return materialize(
        cent1.withColumn("c_n2", _dot(F.col("cv"), F.col("cv")))
    )


def _pq_codes_lut(spark: SparkSession, sf_dir: str):
    """Train the PQ codebooks, encode the corpus, and precompute the
    per-query ADC lookup tables — the shared core of
    :func:`ann_pq_adc_recall`, :func:`ann_ivf_pq_topk`, and the quality
    pytest. Returns ``(codes, lut)``: (vec_id, m, code) and
    (q_id, m, cid, pd)."""
    e = _vectors(spark, sf_dir)
    # subvector table: (vec_id, m, sv, s_n2)
    sub = _pq_subvectors(e.select("vec_id", "v"))
    cent1 = _pq_train(sub)
    codes = materialize(_pq_assign(sub, cent1))

    # per-query ADC lookup table: (q_id, m, cid, pd) — _PQ_M × _PQ_K rows/query
    qsub = sub.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        "m",
        F.col("sv").alias("qsv"),
        F.col("s_n2").alias("q_n2"),
    )
    pd_ = F.round(
        F.col("q_n2") + F.col("c_n2") - 2 * _dot(F.col("qsv"), F.col("cv")), 6
    )
    lut = materialize(
        qsub.join(F.broadcast(cent1), "m").select(
            "q_id", "m", "cid", pd_.alias("pd")
        )
    )
    return codes, lut


def _pq_adc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs ADC scores (q_id, vec_id, adc): codes ⋈ broadcast lut —
    raw vectors never touched after encoding."""
    codes, lut = _pq_codes_lut(spark, sf_dir)
    return (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.cid),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("pd").alias("adc"))
    )


def _exact_l2_truth(e: DataFrame):
    """Exact L2 ground truth of the ANN-recall queries over ``e``
    (:func:`_vectors`). Returns ``(full, qfull, sq, top)``: ``full`` is
    (vec_id, v, n2), ``qfull`` the query rows (q_id, qv, q_n2) with
    ``vec_id % _QUERY_MOD = 0``, ``sq`` the squared distance between a
    ``full`` and a ``qfull`` row, and ``top`` the exact top-``_TOPK``
    (q_id, vec_id, rk) per query, ranked by ``round(sq, 4)`` then vec_id."""
    full = e.select("vec_id", "v", _dot(F.col("v"), F.col("v")).alias("n2"))
    qfull = full.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("q_n2"),
    )
    sq = F.col("q_n2") + F.col("n2") - 2 * _dot(F.col("qv"), F.col("v"))
    w_ex = Window.partitionBy("q_id").orderBy(
        F.round(sq, 4).asc(), F.col("vec_id").asc()
    )
    top = (
        full.crossJoin(F.broadcast(qfull))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rk", F.row_number().over(w_ex))
        .filter(F.col("rk") <= _TOPK)
        .select("q_id", "vec_id", "rk")
    )
    return full, qfull, sq, top


def ann_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end to end — the memory-bound ANN path that
    IVF/LSH don't cover: each vector is stored as ``_PQ_M`` one-byte codes
    (here 8 bytes vs 512 for the raw doubles, a 64× compression), and query
    distances are computed WITHOUT touching raw vectors via asymmetric
    distance computation: per query, a (subspace × codebook) lookup table
    of squared distances is precomputed (``_PQ_M·_PQ_K`` = 64 rows —
    broadcast), and a candidate's distance is the sum of 8 table lookups.

    Training follows the repo's deterministic codebook convention
    (:func:`ann_ivf_topk`, embedding_kmeans_clusters): per subspace, seeds
    = the first ``_PQ_K`` vectors' subvectors, one Lloyd round (L2 assign →
    re-center, means rounded to 6). Squared distances decompose as
    ||a−b||² = ||a||² + ||b||² − 2·a·b with every dot a sequential fold —
    verified bit-identical to DuckDB's ``list_inner_product`` — and every
    ranking key ROUNDed first, so the full train→encode→ADC→recall pipeline
    is value-checked against the oracle.

    Output: per query (vec_id % {qm} = 0), recall@{k} of PQ-ADC against the
    exact L2 top-{k}, plus both top-1 ids and the top-1 ADC distance.

    Scale shape: encoding is {m} broadcast equi-joins on the subspace id
    (codebooks are tiny); ADC scoring joins the CODES table (8 small ints
    per vector) against the broadcast lookup table — the raw embedding
    column is never read after encoding, which is the entire point of PQ
    at 100 TB (the codes for a billion vectors fit in memory)."""
    adc = _pq_adc_frame(spark, sf_dir)
    e = _vectors(spark, sf_dir)
    w_adc = Window.partitionBy("q_id").orderBy(
        F.round("adc", 4).asc(), F.col("vec_id").asc()
    )
    pq_top = adc.withColumn("rk", F.row_number().over(w_adc)).filter(
        F.col("rk") <= _TOPK
    )

    # exact L2 ground truth over the full vectors
    _, _, _, ex_top = _exact_l2_truth(e)

    hits = pq_top.select("q_id", "vec_id").join(
        ex_top.select("q_id", "vec_id"), ["q_id", "vec_id"]
    ).groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    pq1 = pq_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("pq_top1"), F.round("adc", 4).alias("pq_top1_adc")
    )
    ex1 = ex_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("exact_top1")
    )
    return (
        pq1.join(ex1, "q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("recall_hits_at_5"),
            "pq_top1",
            "exact_top1",
            "pq_top1_adc",
        )
        .orderBy("q_id")
    )


def _pq_ctes() -> str:
    """Shared oracle CTE chain: subvectors → codebook training (seed + one
    Lloyd round) → corpus codes → per-query ADC lookup tables. Consumed by
    both the flat-PQ and the IVF-PQ oracles."""
    m, d, k = _PQ_M, _PQ_DSUB, _PQ_K
    return f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sub AS (
  SELECT vec_id, m, list_slice(v, m * {d} + 1, m * {d} + {d}) AS sv
  FROM e, unnest(generate_series(0, {m - 1})) t(m)
),
sub2 AS (SELECT *, list_inner_product(sv, sv) AS s_n2 FROM sub),
cent0 AS (
  SELECT m, vec_id AS cid, sv AS cv, s_n2 AS c_n2 FROM sub2 WHERE vec_id < {k}
),
s1 AS (
  SELECT s.vec_id, s.m, c.cid,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
           ORDER BY ROUND(s.s_n2 + c.c_n2 - 2 * list_inner_product(s.sv, c.cv), 4),
                    c.cid) AS rn
  FROM sub2 s JOIN cent0 c ON s.m = c.m
),
a1 AS (SELECT vec_id, m, cid AS code FROM s1 WHERE rn = 1),
dims AS (
  SELECT s.m, a.code AS cid, i AS dim, ROUND(AVG(s.sv[i]), 6) AS mx
  FROM a1 a JOIN sub2 s ON a.vec_id = s.vec_id AND a.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {d})) AS i) idx
  GROUP BY s.m, a.code, i
),
cent1 AS (
  SELECT m, cid, list(mx ORDER BY dim) AS cv FROM dims GROUP BY m, cid
),
cent1n AS (SELECT *, list_inner_product(cv, cv) AS c_n2 FROM cent1),
s2 AS (
  SELECT s.vec_id, s.m, c.cid,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
           ORDER BY ROUND(s.s_n2 + c.c_n2 - 2 * list_inner_product(s.sv, c.cv), 4),
                    c.cid) AS rn
  FROM sub2 s JOIN cent1n c ON s.m = c.m
),
codes AS (SELECT vec_id, m, cid AS code FROM s2 WHERE rn = 1),
qsub AS (
  SELECT vec_id AS q_id, m, sv AS qsv, s_n2 AS q_n2
  FROM sub2 WHERE vec_id % {_QUERY_MOD} = 0
),
lut AS (
  SELECT q.q_id, q.m, c.cid,
         ROUND(q.q_n2 + c.c_n2 - 2 * list_inner_product(q.qsv, c.cv), 6) AS pd
  FROM qsub q JOIN cent1n c ON q.m = c.m
),
full_ AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e),
qfull AS (
  SELECT vec_id AS q_id, v AS qv, n2 AS q_n2
  FROM full_ WHERE vec_id % {_QUERY_MOD} = 0
),
ex_top AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(q_n2 + n2 - 2 * list_inner_product(qv, v), 4),
                    vec_id) AS rk
  FROM full_, qfull
  WHERE vec_id <> q_id
)"""


def _pq_oracle() -> str:
    return f"""
WITH {_pq_ctes()},
adc AS (
  SELECT l.q_id, co.vec_id, SUM(l.pd) AS adc
  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.cid
  WHERE co.vec_id <> l.q_id
  GROUP BY l.q_id, co.vec_id
),
pq_top AS (
  SELECT q_id, vec_id, adc,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(adc, 4), vec_id) AS rk
  FROM adc
),
hits AS (
  SELECT p.q_id, COUNT(*) AS n_hits
  FROM pq_top p JOIN ex_top x ON p.q_id = x.q_id AND p.vec_id = x.vec_id
  WHERE p.rk <= {_TOPK} AND x.rk <= {_TOPK}
  GROUP BY p.q_id
)
SELECT p.q_id,
       CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS recall_hits_at_5,
       p.vec_id AS pq_top1,
       x.vec_id AS exact_top1,
       ROUND(p.adc, 4) AS pq_top1_adc
FROM pq_top p
JOIN ex_top x ON p.q_id = x.q_id AND x.rk = 1
LEFT JOIN hits h ON h.q_id = p.q_id
WHERE p.rk = 1
ORDER BY p.q_id
"""


_PQ_SQL = _pq_oracle()


#: Refinement candidate depth: the ADC stage keeps this many candidates per
#: query for the exact re-rank (the standard two-stage serving ratio).
_REFINE_M = 20


def ann_pq_refine_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving — the shape every production vector store
    runs (FAISS refine, ScaNN reorder, Milvus/pgvector rescore): the
    compressed PQ-ADC index nominates top-{m} candidates per query, then
    ONLY those candidates are re-ranked with exact L2 over the raw
    vectors. Reports, per query, recall@{k} of the raw PQ ranking vs the
    refined ranking against the exact ground truth — quantifying what the
    cheap refinement step buys back of the quantization loss.

    Scale shape: stage 1 never touches raw vectors (codes x broadcast
    LUT); stage 2 touches exactly {m} raw vectors per query via an
    id equi-join — at a billion vectors that is the difference between
    scanning 8 GB of codes and fetching 20 rows. Ranking keys ROUND
    before ordering, ids break ties, so the full two-stage pipeline is
    value-checked against the DuckDB replay."""
    adc = _pq_adc_frame(spark, sf_dir)
    e = _vectors(spark, sf_dir)
    w_adc = Window.partitionBy("q_id").orderBy(
        F.round("adc", 4).asc(), F.col("vec_id").asc()
    )
    cand = materialize(
        adc.withColumn("rk", F.row_number().over(w_adc)).filter(
            F.col("rk") <= _REFINE_M
        )
    )

    full, qfull, sq_full, ex_top = _exact_l2_truth(e)

    # stage 2: exact re-rank of the {m} nominated candidates only
    refined = (
        cand.select("q_id", "vec_id", "rk")
        .join(full, "vec_id")
        .join(F.broadcast(qfull), "q_id")
        .withColumn(
            "rrk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.round(sq_full, 4).asc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rrk") <= _TOPK)
        .select("q_id", "vec_id", "rrk")
    )

    def hits(top: DataFrame, alias: str) -> DataFrame:
        return (
            top.select("q_id", "vec_id")
            .join(ex_top.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).cast("int").alias(alias))
        )

    pq5 = cand.filter(F.col("rk") <= _TOPK)
    q_ids = cand.select("q_id").distinct()
    return (
        q_ids.join(hits(pq5, "pq_hits_at_5"), "q_id", "left")
        .join(hits(refined, "refined_hits_at_5"), "q_id", "left")
        .join(
            refined.filter(F.col("rrk") == 1).select(
                "q_id", F.col("vec_id").alias("refined_top1")
            ),
            "q_id",
        )
        .join(
            ex_top.filter(F.col("rk") == 1).select(
                "q_id", F.col("vec_id").alias("exact_top1")
            ),
            "q_id",
        )
        .select(
            "q_id",
            F.coalesce("pq_hits_at_5", F.lit(0)).cast("int").alias(
                "pq_hits_at_5"
            ),
            F.coalesce("refined_hits_at_5", F.lit(0)).cast("int").alias(
                "refined_hits_at_5"
            ),
            "refined_top1",
            "exact_top1",
        )
        .orderBy("q_id")
    )


def _pq_refine_oracle() -> str:
    return f"""
WITH {_pq_ctes()},
adc AS (
  SELECT l.q_id, co.vec_id, SUM(l.pd) AS adc
  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.cid
  WHERE co.vec_id <> l.q_id
  GROUP BY l.q_id, co.vec_id
),
cand AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(adc, 4), vec_id) AS rk
  FROM adc
  QUALIFY rk <= {_REFINE_M}
),
refined AS (
  SELECT c.q_id, c.vec_id,
         ROW_NUMBER() OVER (PARTITION BY c.q_id
           ORDER BY ROUND(q.q_n2 + f.n2 - 2 * list_inner_product(q.qv, f.v), 4),
                    c.vec_id) AS rrk
  FROM cand c
  JOIN full_ f ON f.vec_id = c.vec_id
  JOIN qfull q ON q.q_id = c.q_id
),
pq_hits AS (
  SELECT c.q_id, COUNT(*) AS n
  FROM cand c JOIN ex_top x ON c.q_id = x.q_id AND c.vec_id = x.vec_id
  WHERE c.rk <= {_TOPK} AND x.rk <= {_TOPK}
  GROUP BY c.q_id
),
ref_hits AS (
  SELECT r.q_id, COUNT(*) AS n
  FROM refined r JOIN ex_top x ON r.q_id = x.q_id AND r.vec_id = x.vec_id
  WHERE r.rrk <= {_TOPK} AND x.rk <= {_TOPK}
  GROUP BY r.q_id
)
SELECT q.q_id,
       CAST(COALESCE(p.n, 0) AS INTEGER) AS pq_hits_at_5,
       CAST(COALESCE(rh.n, 0) AS INTEGER) AS refined_hits_at_5,
       r1.vec_id AS refined_top1,
       x1.vec_id AS exact_top1
FROM (SELECT DISTINCT q_id FROM cand) q
LEFT JOIN pq_hits p ON p.q_id = q.q_id
LEFT JOIN ref_hits rh ON rh.q_id = q.q_id
JOIN (SELECT q_id, vec_id FROM refined WHERE rrk = 1) r1 ON r1.q_id = q.q_id
JOIN (SELECT q_id, vec_id FROM ex_top WHERE rk = 1) x1 ON x1.q_id = q.q_id
ORDER BY q.q_id
"""


_PQ_REFINE_SQL = _pq_refine_oracle()


#: IVF-PQ probe count (cells searched per query).
_IVFPQ_NPROBE = 2


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN architecture (FAISS ``IVFx,PQy``):
    coarse cells PRUNE the candidate set (only ``nprobe``=2 of the 8 cells
    are searched per query) and PQ-ADC SCORES the survivors from 8-byte
    codes — composing the two scale levers this module builds separately
    (:func:`ann_ivf_topk`, :func:`ann_pq_adc_recall`). The output carries
    the audit numbers that justify the architecture: per query, how many
    candidates were actually scored (``scan_frac`` of the corpus), what
    recall@5 survived the pruning+quantization, and both top-1s.

    Scale shape: cell assignment is a broadcast argmin (8 centroids);
    candidate generation is an equi-join on the cell id — with the codes
    table partitioned by cell, a true partition-pruned probe; ADC scoring
    touches only (candidate × 8) code rows against the broadcast lookup
    table. Raw vectors appear in exactly two bounded places: codebook
    training and the per-query LUT build."""
    e = _vectors(spark, sf_dir)
    full, qfull, _, ex_top = _exact_l2_truth(e)
    coarse = full.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("ccid"),
        F.col("v").alias("ccv"),
        F.col("n2").alias("cc_n2"),
    )
    cell_sq = F.round(
        F.col("n2") + F.col("cc_n2") - 2 * _dot(F.col("v"), F.col("ccv")), 4
    )
    # struct-min argmin (same rounded-key + ccid-tiebreak winner as the
    # rank-1 window it replaces; aggregates map-side instead of sorting)
    cells = materialize(
        full.crossJoin(F.broadcast(coarse))
        .groupBy("vec_id")
        .agg(F.min(F.struct(cell_sq.alias("k"), F.col("ccid"))).alias("mn"))
        .select("vec_id", F.col("mn.ccid").alias("cell"))
    )
    probe_sq = F.round(
        F.col("q_n2") + F.col("cc_n2") - 2 * _dot(F.col("qv"), F.col("ccv")), 4
    )
    w_probe = Window.partitionBy("q_id").orderBy(probe_sq.asc(), F.col("ccid").asc())
    probes = (
        qfull.crossJoin(F.broadcast(coarse))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("q_id", F.col("ccid").alias("cell"))
    )
    cands = materialize(
        probes.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    codes, lut = _pq_codes_lut(spark, sf_dir)
    adc = (
        cands.join(codes, "vec_id")
        .join(F.broadcast(lut), ["q_id", "m"])
        .filter(F.col("code") == F.col("cid"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("pd").alias("adc"))
    )
    w_top = Window.partitionBy("q_id").orderBy(
        F.round("adc", 4).asc(), F.col("vec_id").asc()
    )
    top = adc.withColumn("rk", F.row_number().over(w_top)).filter(
        F.col("rk") <= _TOPK
    )
    n_total = full.agg(F.count(F.lit(1)).alias("n_corpus"))
    ncand = cands.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = (
        top.select("q_id", "vec_id")
        .join(ex_top.select("q_id", "vec_id"), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    top1 = top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("ivfpq_top1"), F.round("adc", 4).alias("top1_adc")
    )
    ex1 = ex_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("exact_top1")
    )
    return (
        top1.join(ex1, "q_id")
        .join(ncand, "q_id")
        .join(hits, "q_id", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "q_id",
            "n_candidates",
            # div-safe: n_corpus >= 2 whenever a query row exists
            F.round(F.col("n_candidates") / (F.col("n_corpus") - 1), 4).alias(
                "scan_frac"
            ),
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("recall_hits_at_5"),
            "ivfpq_top1",
            "exact_top1",
            "top1_adc",
        )
        .orderBy("q_id")
    )


def _ivfpq_oracle() -> str:
    return f"""
WITH {_pq_ctes()},
coarse AS (
  SELECT vec_id AS ccid, v AS ccv, n2 AS cc_n2 FROM full_ WHERE vec_id < {_N_CENTROIDS}
),
cellassign AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT f.vec_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
             ORDER BY ROUND(f.n2 + c.cc_n2 - 2 * list_inner_product(f.v, c.ccv), 4),
                      c.ccid) AS rn
    FROM full_ f, coarse c)
  WHERE rn = 1
),
probes AS (
  SELECT q_id, ccid AS cell FROM (
    SELECT qf.q_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY qf.q_id
             ORDER BY ROUND(qf.q_n2 + c.cc_n2 - 2 * list_inner_product(qf.qv, c.ccv), 4),
                      c.ccid) AS rn
    FROM qfull qf, coarse c)
  WHERE rn <= {_IVFPQ_NPROBE}
),
cands AS (
  SELECT p.q_id, ca.vec_id
  FROM probes p JOIN cellassign ca ON p.cell = ca.cell
  WHERE ca.vec_id <> p.q_id
),
adc_f AS (
  SELECT cd.q_id, cd.vec_id, SUM(l.pd) AS adc
  FROM cands cd
  JOIN codes co ON co.vec_id = cd.vec_id
  JOIN lut l ON l.q_id = cd.q_id AND l.m = co.m AND l.cid = co.code
  GROUP BY cd.q_id, cd.vec_id
),
top AS (
  SELECT q_id, vec_id, adc,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(adc, 4), vec_id) AS rk
  FROM adc_f
),
ncorpus AS (SELECT COUNT(*) AS n_corpus FROM e),
ncand AS (SELECT q_id, COUNT(*) AS n_candidates FROM cands GROUP BY q_id),
hits AS (
  SELECT t.q_id, COUNT(*) AS n_hits
  FROM top t JOIN ex_top x ON t.q_id = x.q_id AND t.vec_id = x.vec_id
  WHERE t.rk <= {_TOPK} AND x.rk <= {_TOPK}
  GROUP BY t.q_id
)
SELECT t.q_id,
       nc.n_candidates,
       -- div-safe: n_corpus >= 2 whenever a query row exists
       ROUND(nc.n_candidates / CAST(n.n_corpus - 1 AS DOUBLE), 4) AS scan_frac,
       CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS recall_hits_at_5,
       t.vec_id AS ivfpq_top1,
       x.vec_id AS exact_top1,
       ROUND(t.adc, 4) AS top1_adc
FROM top t
JOIN ex_top x ON t.q_id = x.q_id AND x.rk = 1
JOIN ncand nc ON nc.q_id = t.q_id
LEFT JOIN hits h ON h.q_id = t.q_id
CROSS JOIN ncorpus n
WHERE t.rk = 1
ORDER BY t.q_id
"""


_IVFPQ_SQL = _ivfpq_oracle()


def _residual_frames(spark: SparkSession, sf_dir: str):
    """Shared residual-IVF core for :func:`ann_residual_pq_recall` and the
    quantization-error pytest: returns ``(truth, coarse, cells, resv)``
    where ``truth`` is :func:`_exact_l2_truth` of the corpus, ``coarse``
    is the LLOYD-TRAINED coarse codebook (assign to the first
    ``_N_CENTROIDS`` seed vectors → re-center as per-dim means rounded 6 —
    the same deterministic recipe :func:`_pq_train` uses per subspace),
    ``cells`` the final assignment against it, and ``resv`` each vector's
    residual ``rv = v − centroid(cell)``."""
    e = _vectors(spark, sf_dir)
    truth = _exact_l2_truth(e)
    full, *_ = truth
    seeds = full.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("ccid"),
        F.col("v").alias("ccv"),
        F.col("n2").alias("cc_n2"),
    )

    def cell_assign(cent: DataFrame) -> DataFrame:
        # struct-min argmin (same rounded-key + ccid-tiebreak winner as the
        # rank-1 window it replaces): partial-aggregates map-side, so the
        # exchange carries one row per vector, not one per (vector, cell)
        sq = F.round(
            F.col("n2") + F.col("cc_n2") - 2 * _dot(F.col("v"), F.col("ccv")), 4
        )
        return (
            full.crossJoin(F.broadcast(cent))
            .groupBy("vec_id")
            .agg(F.min(F.struct(sq.alias("k"), F.col("ccid"))).alias("mn"))
            .select("vec_id", F.col("mn.ccid").alias("cell"))
        )

    # one Lloyd round on the COARSE quantizer: per (cell, dim) mean, rounded 6
    cells0 = cell_assign(seeds)
    tdims = (
        cells0.join(full.select("vec_id", "v"), "vec_id")
        .select(F.col("cell").alias("ccid"), F.posexplode("v").alias("dim", "x"))
        .groupBy("ccid", "dim")
        .agg(F.round(F.avg("x"), 6).alias("mx"))
    )
    coarse = materialize(
        tdims.groupBy("ccid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "mx"))),
                lambda st: st["mx"],
            ).alias("ccv")
        )
        .withColumn("cc_n2", _dot(F.col("ccv"), F.col("ccv")))
    )
    cells = materialize(cell_assign(coarse))
    resv = (
        cells.join(full.select("vec_id", "v"), "vec_id")
        .join(
            F.broadcast(coarse.select(F.col("ccid").alias("cell"), "ccv")),
            "cell",
        )
        .select(
            "vec_id",
            "cell",
            F.zip_with("v", "ccv", lambda a, b: a - b).alias("rv"),
        )
    )
    return truth, coarse, cells, resv


def ann_residual_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ — the actual FAISS ``IVFPQ`` formulation: PQ encodes
    each vector's RESIDUAL to its coarse centroid (``r = v − c(cell)``), not
    the raw vector, and the per-query ADC lookup table is built from the
    query's residual to each PROBED cell. Residuals concentrate near the
    origin, so the same codebook budget quantizes them with less error —
    this query measures exactly that: over the SAME IVF candidate set
    (nprobe=2), recall@5 of raw-vector PQ codes vs residual PQ codes, per
    query. (On this synthetic near-isotropic corpus — unit vectors, little
    cluster structure — the residual advantage shows up robustly in mean
    quantization error, asserted in pytest; per-query recall@5 over 5
    queries is small-sample noise in either direction.)

    Unlike the module's other coarse quantizers (pure pruning, where seed
    centroids suffice), residuals only shrink if the coarse centroids are
    actual cluster CENTERS — so this query trains them with one Lloyd round
    (assign to seeds → re-center as per-dim means, the same deterministic
    recipe :func:`_pq_train` uses at the subspace level; measured on sf0.01
    this cuts mean subspace quantization error below the raw-PQ baseline,
    whereas seed-centroid residuals are 2× WORSE than raw).

    Scale shape is unchanged from :func:`ann_ivf_pq_topk` — cell assignment
    and codebook training touch raw vectors once; scoring joins the 8-byte
    code table against broadcast LUTs (nprobe×8×8 rows per query). The
    residual LUT is keyed by (q_id, cell): at serve time this is the small
    per-probe table FAISS precomputes before scanning each inverted list."""
    (_, qfull, _, ex_top), coarse, cells, resv = _residual_frames(
        spark, sf_dir
    )
    rsub = _pq_subvectors(resv, vcol="rv")
    rcent = _pq_train(rsub.select("vec_id", "m", "sv", "s_n2"))
    rcodes = materialize(
        _pq_assign(rsub.select("vec_id", "m", "sv", "s_n2"), rcent)
    )
    # query probes (nprobe nearest coarse cells)
    probe_sq = F.round(
        F.col("q_n2") + F.col("cc_n2") - 2 * _dot(F.col("qv"), F.col("ccv")), 4
    )
    w_probe = Window.partitionBy("q_id").orderBy(probe_sq.asc(), F.col("ccid").asc())
    probes = materialize(
        qfull.crossJoin(F.broadcast(coarse))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("q_id", F.col("ccid").alias("cell"))
    )
    # per-(query, probed cell) residual LUT
    qres = (
        probes.join(qfull, "q_id")
        .join(
            F.broadcast(coarse.select(F.col("ccid").alias("cell"), "ccv")),
            "cell",
        )
        .select(
            "q_id",
            "cell",
            F.zip_with("qv", "ccv", lambda a, b: a - b).alias("qrv"),
        )
    )
    qrsub = _pq_subvectors(qres, vcol="qrv")
    pd_r = F.round(
        F.col("s_n2") + F.col("c_n2") - 2 * _dot(F.col("sv"), F.col("cv")), 6
    )
    lut_r = materialize(
        qrsub.join(F.broadcast(rcent), "m").select(
            "q_id", "cell", "m", "cid", pd_r.alias("pd")
        )
    )
    cands = materialize(
        probes.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "cell", "vec_id")
    )
    adc_res = (
        cands.join(rcodes, "vec_id")
        .join(F.broadcast(lut_r), ["q_id", "cell", "m"])
        .filter(F.col("code") == F.col("cid"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("pd").alias("adc"))
    )
    # raw-vector PQ over the SAME candidates (the flat codes + per-query LUT)
    codes, lut = _pq_codes_lut(spark, sf_dir)
    adc_raw = (
        cands.join(codes, "vec_id")
        .join(F.broadcast(lut), ["q_id", "m"])
        .filter(F.col("code") == F.col("cid"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("pd").alias("adc"))
    )

    def topk(adc: DataFrame) -> DataFrame:
        w_top = Window.partitionBy("q_id").orderBy(
            F.round("adc", 4).asc(), F.col("vec_id").asc()
        )
        return (
            adc.withColumn("rk", F.row_number().over(w_top))
            .filter(F.col("rk") <= _TOPK)
            .select("q_id", "vec_id", "rk")
        )

    res_top = topk(adc_res)
    raw_top = topk(adc_raw)

    def hits(top: DataFrame, name: str) -> DataFrame:
        return (
            top.select("q_id", "vec_id")
            .join(ex_top.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).cast("int").alias(name))
        )

    h_res = hits(res_top, "res_hits_at_5")
    h_raw = hits(raw_top, "raw_hits_at_5")
    ncand = cands.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    res1 = res_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("res_top1")
    )
    ex1 = ex_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("exact_top1")
    )
    return (
        ncand.join(res1, "q_id")
        .join(ex1, "q_id")
        .join(h_res, "q_id", "left")
        .join(h_raw, "q_id", "left")
        .select(
            "q_id",
            "n_candidates",
            F.coalesce("raw_hits_at_5", F.lit(0)).cast("int").alias("raw_hits_at_5"),
            F.coalesce("res_hits_at_5", F.lit(0)).cast("int").alias("res_hits_at_5"),
            "res_top1",
            "exact_top1",
        )
        .orderBy("q_id")
    )


def _residual_pq_oracle() -> str:
    m, d, k = _PQ_M, _PQ_DSUB, _PQ_K
    dim = _PQ_M * _PQ_DSUB
    return f"""
WITH {_pq_ctes()},
seeds AS (
  SELECT vec_id AS ccid, v AS ccv, s.n2 AS cc_n2
  FROM full_ s WHERE vec_id < {_N_CENTROIDS}
),
cellassign0 AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT f.vec_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
             ORDER BY ROUND(f.n2 + c.cc_n2 - 2 * list_inner_product(f.v, c.ccv), 4),
                      c.ccid) AS rn
    FROM full_ f, seeds c)
  WHERE rn = 1
),
tdims AS (
  SELECT ca.cell AS ccid, i AS dim, ROUND(AVG(f.v[i]), 6) AS mx
  FROM cellassign0 ca JOIN full_ f USING (vec_id),
       LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) idx
  GROUP BY ca.cell, i
),
coarse0 AS (SELECT ccid, list(mx ORDER BY dim) AS ccv FROM tdims GROUP BY ccid),
coarse AS (
  SELECT ccid, ccv, list_inner_product(ccv, ccv) AS cc_n2 FROM coarse0
),
cellassign AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT f.vec_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY f.vec_id
             ORDER BY ROUND(f.n2 + c.cc_n2 - 2 * list_inner_product(f.v, c.ccv), 4),
                      c.ccid) AS rn
    FROM full_ f, coarse c)
  WHERE rn = 1
),
probes AS (
  SELECT q_id, ccid AS cell FROM (
    SELECT qf.q_id, c.ccid,
           ROW_NUMBER() OVER (PARTITION BY qf.q_id
             ORDER BY ROUND(qf.q_n2 + c.cc_n2 - 2 * list_inner_product(qf.qv, c.ccv), 4),
                      c.ccid) AS rn
    FROM qfull qf, coarse c)
  WHERE rn <= {_IVFPQ_NPROBE}
),
cands AS (
  SELECT p.q_id, p.cell, ca.vec_id
  FROM probes p JOIN cellassign ca ON p.cell = ca.cell
  WHERE ca.vec_id <> p.q_id
),
resv AS (
  SELECT ca.vec_id,
         list_transform(generate_series(1, {dim}), i -> f.v[i] - c.ccv[i]) AS rv
  FROM cellassign ca
  JOIN full_ f USING (vec_id)
  JOIN coarse c ON c.ccid = ca.cell
),
rsub AS (
  SELECT vec_id, m, list_slice(rv, m * {d} + 1, m * {d} + {d}) AS sv
  FROM resv, unnest(generate_series(0, {m - 1})) t(m)
),
rsub2 AS (SELECT *, list_inner_product(sv, sv) AS s_n2 FROM rsub),
rcent0 AS (
  SELECT m, vec_id AS cid, sv AS cv, s_n2 AS c_n2 FROM rsub2 WHERE vec_id < {k}
),
rs1 AS (
  SELECT s.vec_id, s.m, c.cid,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
           ORDER BY ROUND(s.s_n2 + c.c_n2 - 2 * list_inner_product(s.sv, c.cv), 4),
                    c.cid) AS rn
  FROM rsub2 s JOIN rcent0 c ON s.m = c.m
),
ra1 AS (SELECT vec_id, m, cid AS code FROM rs1 WHERE rn = 1),
rdims AS (
  SELECT s.m, a.code AS cid, i AS dim, ROUND(AVG(s.sv[i]), 6) AS mx
  FROM ra1 a JOIN rsub2 s ON a.vec_id = s.vec_id AND a.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {d})) AS i) idx
  GROUP BY s.m, a.code, i
),
rcent1 AS (
  SELECT m, cid, list(mx ORDER BY dim) AS cv FROM rdims GROUP BY m, cid
),
rcent1n AS (SELECT *, list_inner_product(cv, cv) AS c_n2 FROM rcent1),
rs2 AS (
  SELECT s.vec_id, s.m, c.cid,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
           ORDER BY ROUND(s.s_n2 + c.c_n2 - 2 * list_inner_product(s.sv, c.cv), 4),
                    c.cid) AS rn
  FROM rsub2 s JOIN rcent1n c ON s.m = c.m
),
rcodes AS (SELECT vec_id, m, cid AS code FROM rs2 WHERE rn = 1),
qres AS (
  SELECT p.q_id, p.cell,
         list_transform(generate_series(1, {dim}), i -> qf.qv[i] - c.ccv[i]) AS qrv
  FROM probes p
  JOIN qfull qf USING (q_id)
  JOIN coarse c ON c.ccid = p.cell
),
qrsub AS (
  SELECT q_id, cell, m, list_slice(qrv, m * {d} + 1, m * {d} + {d}) AS sv
  FROM qres, unnest(generate_series(0, {m - 1})) t(m)
),
qrsub2 AS (SELECT *, list_inner_product(sv, sv) AS s_n2 FROM qrsub),
lut_r AS (
  SELECT q.q_id, q.cell, q.m, c.cid,
         ROUND(q.s_n2 + c.c_n2 - 2 * list_inner_product(q.sv, c.cv), 6) AS pd
  FROM qrsub2 q JOIN rcent1n c ON q.m = c.m
),
adc_res AS (
  SELECT cd.q_id, cd.vec_id, SUM(l.pd) AS adc
  FROM cands cd
  JOIN rcodes co ON co.vec_id = cd.vec_id
  JOIN lut_r l ON l.q_id = cd.q_id AND l.cell = cd.cell
              AND l.m = co.m AND l.cid = co.code
  GROUP BY cd.q_id, cd.vec_id
),
adc_raw AS (
  SELECT cd.q_id, cd.vec_id, SUM(l.pd) AS adc
  FROM cands cd
  JOIN codes co ON co.vec_id = cd.vec_id
  JOIN lut l ON l.q_id = cd.q_id AND l.m = co.m AND l.cid = co.code
  GROUP BY cd.q_id, cd.vec_id
),
res_top AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(adc, 4), vec_id) AS rk
  FROM adc_res
),
raw_top AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(adc, 4), vec_id) AS rk
  FROM adc_raw
),
h_res AS (
  SELECT t.q_id, COUNT(*) AS n
  FROM res_top t JOIN ex_top x ON t.q_id = x.q_id AND t.vec_id = x.vec_id
  WHERE t.rk <= {_TOPK} AND x.rk <= {_TOPK}
  GROUP BY t.q_id
),
h_raw AS (
  SELECT t.q_id, COUNT(*) AS n
  FROM raw_top t JOIN ex_top x ON t.q_id = x.q_id AND t.vec_id = x.vec_id
  WHERE t.rk <= {_TOPK} AND x.rk <= {_TOPK}
  GROUP BY t.q_id
),
ncand AS (SELECT q_id, COUNT(*) AS n_candidates FROM cands GROUP BY q_id)
SELECT nc.q_id,
       nc.n_candidates,
       CAST(COALESCE(hr.n, 0) AS INTEGER) AS raw_hits_at_5,
       CAST(COALESCE(he.n, 0) AS INTEGER) AS res_hits_at_5,
       rt.vec_id AS res_top1,
       x.vec_id AS exact_top1
FROM ncand nc
JOIN res_top rt ON rt.q_id = nc.q_id AND rt.rk = 1
JOIN ex_top x ON x.q_id = nc.q_id AND x.rk = 1
LEFT JOIN h_res he ON he.q_id = nc.q_id
LEFT JOIN h_raw hr ON hr.q_id = nc.q_id
ORDER BY nc.q_id
"""


_RESIDUAL_PQ_SQL = _residual_pq_oracle()


def _sq8_recon(e: DataFrame) -> DataFrame:
    """SQ8 scalar quantization round-trip: per-dimension [min, max]
    calibration → 8-bit code → midpoint-free linear reconstruction.
    Returns the materialized (vec_id, rv, rn2) reconstructed-vector table —
    shared by :func:`ann_sq8_recall` and :func:`ann_rrf_fusion`."""
    dims = e.select("vec_id", F.posexplode("v").alias("dim", "x"))
    cal = dims.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    code = F.when(
        F.col("mx") > F.col("mn"),
        # div-safe: guarded by the mx > mn CASE arm
        F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255 + 0.5),
    ).otherwise(F.lit(0))
    recon_val = F.col("mn") + F.col("c") / 255.0 * (F.col("mx") - F.col("mn"))
    return materialize(
        dims.join(F.broadcast(cal), "dim")
        .select("vec_id", "dim", "mn", "mx", code.alias("c"))
        .select("vec_id", "dim", recon_val.alias("rx"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "rx"))),
                lambda st: st["rx"],
            ).alias("rv")
        )
        .withColumn("rn2", _dot(F.col("rv"), F.col("rv")))
    )


def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization (SQ8) — the OTHER production ANN compression
    next to PQ (FAISS ``SQ8``): every dimension is calibrated to its
    corpus [min, max] and stored as one byte (``floor((x−mn)/(mx−mn)·255
    +0.5)``), an 8× shrink with no codebook training at all. Queries stay
    full-precision and score against the DEQUANTIZED corpus (asymmetric,
    like ADC). Output per query: recall@5 vs the exact L2 top-5 and both
    top-1 ids — the accuracy cost of 1-byte storage, measured.

    Scale shape: calibration is one 64-row aggregate (broadcast back);
    encode/decode is a map-side explode/re-collect per vector; scoring is
    the broadcast-queries corpus pass every exact baseline already pays —
    no extra shuffle beyond the one 64·N-row re-collect at encode time.
    Every arithmetic step (min/max selection, the quantize/dequantize
    formula, sequential-fold dots) is bit-reproducible in DuckDB, so the
    whole calibrate→encode→decode→rank pipeline is value-checked."""
    e = _vectors(spark, sf_dir)
    recon = _sq8_recon(e)
    _, qfull, _, ex_top = _exact_l2_truth(e)
    sq_dist = F.col("q_n2") + F.col("rn2") - 2 * _dot(F.col("qv"), F.col("rv"))
    w_sq = Window.partitionBy("q_id").orderBy(
        F.round(sq_dist, 4).asc(), F.col("vec_id").asc()
    )
    sq_top = (
        recon.crossJoin(F.broadcast(qfull))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rk", F.row_number().over(w_sq))
        .filter(F.col("rk") <= _TOPK)
        .select("q_id", "vec_id", "rk")
    )
    hits = (
        sq_top.select("q_id", "vec_id")
        .join(ex_top.select("q_id", "vec_id"), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("int").alias("recall_hits_at_5"))
    )
    sq1 = sq_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("sq8_top1")
    )
    ex1 = ex_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("exact_top1")
    )
    return (
        sq1.join(ex1, "q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("recall_hits_at_5", F.lit(0))
            .cast("int")
            .alias("recall_hits_at_5"),
            "sq8_top1",
            "exact_top1",
        )
        .orderBy("q_id")
    )


_SQ8_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT vec_id, i AS dim, v[i] AS x
  FROM e, LATERAL (SELECT unnest(generate_series(1, {_PQ_M * _PQ_DSUB})) AS i) idx
),
cal AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY dim),
codes AS (
  SELECT d.vec_id, d.dim, c.mn, c.mx,
         CASE WHEN c.mx > c.mn
              -- div-safe: guarded by the mx > mn CASE arm
              THEN floor((d.x - c.mn) / (c.mx - c.mn) * 255 + 0.5)
              ELSE 0 END AS cc
  FROM dims d JOIN cal c USING (dim)
),
recon AS (
  SELECT vec_id, list(mn + cc / 255.0 * (mx - mn) ORDER BY dim) AS rv
  FROM codes GROUP BY vec_id
),
reconn AS (SELECT vec_id, rv, list_inner_product(rv, rv) AS rn2 FROM recon),
full_ AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e),
qfull AS (
  SELECT vec_id AS q_id, v AS qv, n2 AS q_n2
  FROM full_ WHERE vec_id % {_QUERY_MOD} = 0
),
sq_top AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(q_n2 + rn2 - 2 * list_inner_product(qv, rv), 4),
                    vec_id) AS rk
  FROM reconn, qfull
  WHERE vec_id <> q_id
),
ex_top AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(q_n2 + n2 - 2 * list_inner_product(qv, v), 4),
                    vec_id) AS rk
  FROM full_, qfull
  WHERE vec_id <> q_id
),
hits AS (
  SELECT s.q_id, COUNT(*) AS n
  FROM sq_top s JOIN ex_top x ON s.q_id = x.q_id AND s.vec_id = x.vec_id
  WHERE s.rk <= {_TOPK} AND x.rk <= {_TOPK}
  GROUP BY s.q_id
)
SELECT s.q_id,
       CAST(COALESCE(h.n, 0) AS INTEGER) AS recall_hits_at_5,
       s.vec_id AS sq8_top1,
       x.vec_id AS exact_top1
FROM sq_top s
JOIN ex_top x ON x.q_id = s.q_id AND x.rk = 1
LEFT JOIN hits h ON h.q_id = s.q_id
WHERE s.rk = 1
ORDER BY s.q_id
"""


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of two approximate ANN rankings
# --------------------------------------------------------------------------

#: candidate depth each fused list contributes (fusion then re-ranks to
#: _TOPK); 60 is the canonical RRF damping constant (Cormack et al. 2009).
_RRF_K = 10
_RRF_C = 60


def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (RRF) of two cheap approximate rankings — the
    ensemble-retrieval pattern production search stacks use when no single
    index is trusted: list A ranks by squared L2 on the first
    ``_TRUNC_DIMS`` Matryoshka dimensions, list B by squared L2 on the SQ8
    reconstructed vectors (two quantizations with DIFFERENT error shapes),
    and the fused score is ``sum over lists of 1/(60 + rank)``. The output
    audits the ensemble claim per query: fused recall@5 against the exact
    top-5 alongside each component's recall, plus fused/exact top-1.

    Scale shape: both component rankings are broadcast-query scoring passes
    over compressed representations (16 of 64 dims; 8-bit codes), the RRF
    join touches only 2x``_RRF_K`` candidate rows per query, and the
    re-rank is a bounded per-query window. At 100 TB either component can
    be swapped for its IVF-pruned variant without changing the fusion."""
    e = _vectors(spark, sf_dir)
    full, qfull, _, ex_top = _exact_l2_truth(e)
    # list A: truncated-dimension (Matryoshka) squared L2
    vt = F.slice(F.col("v"), 1, _TRUNC_DIMS)
    qt = F.slice(F.col("qv"), 1, _TRUNC_DIMS)
    trunc = full.select("vec_id", vt.alias("tv")).withColumn(
        "tn2", _dot(F.col("tv"), F.col("tv"))
    )
    t_dist = (
        _dot(qt, qt) + F.col("tn2") - 2 * _dot(qt, F.col("tv"))
    )
    w_t = Window.partitionBy("q_id").orderBy(
        F.round(t_dist, 4).asc(), F.col("vec_id").asc()
    )
    top_a = (
        trunc.crossJoin(F.broadcast(qfull))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rk_a", F.row_number().over(w_t))
        .filter(F.col("rk_a") <= _RRF_K)
        .select("q_id", "vec_id", "rk_a")
    )
    # list B: SQ8-reconstructed squared L2 (shared recon helper)
    recon = _sq8_recon(e)
    sq_dist = F.col("q_n2") + F.col("rn2") - 2 * _dot(F.col("qv"), F.col("rv"))
    w_b = Window.partitionBy("q_id").orderBy(
        F.round(sq_dist, 4).asc(), F.col("vec_id").asc()
    )
    top_b = (
        recon.crossJoin(F.broadcast(qfull))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rk_b", F.row_number().over(w_b))
        .filter(F.col("rk_b") <= _RRF_K)
        .select("q_id", "vec_id", "rk_b")
    )
    # RRF: candidates from either list; absent rank contributes 0
    # div-safe: both RRF denominators are 60 + rank >= 61
    fused = (
        top_a.join(top_b, ["q_id", "vec_id"], "full_outer")
        .select(
            "q_id",
            "vec_id",
            # div-safe: RRF denominators are 60 + rank >= 61
            F.round(
                F.coalesce(1.0 / (_RRF_C + F.col("rk_a")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_C + F.col("rk_b")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w_f = Window.partitionBy("q_id").orderBy(
        F.desc("rrf"), F.asc("vec_id")
    )
    top_f = fused.withColumn("rk", F.row_number().over(w_f)).filter(
        F.col("rk") <= _TOPK
    )

    def recall_of(df: DataFrame, rk_col: str, name: str) -> DataFrame:
        return (
            df.filter(F.col(rk_col) <= _TOPK)
            .select("q_id", "vec_id")
            .join(ex_top.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).cast("int").alias(name))
        )

    r_a = recall_of(top_a, "rk_a", "recall_trunc_at_5")
    r_b = recall_of(top_b, "rk_b", "recall_sq8_at_5")
    r_f = recall_of(top_f, "rk", "recall_fused_at_5")
    f1 = top_f.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("fused_top1"), F.col("rrf").alias("fused_top1_rrf")
    )
    ex1 = ex_top.filter(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("exact_top1")
    )
    return (
        f1.join(ex1, "q_id")
        .join(r_a, "q_id", "left")
        .join(r_b, "q_id", "left")
        .join(r_f, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("recall_trunc_at_5", F.lit(0)).cast("int").alias(
                "recall_trunc_at_5"
            ),
            F.coalesce("recall_sq8_at_5", F.lit(0)).cast("int").alias(
                "recall_sq8_at_5"
            ),
            F.coalesce("recall_fused_at_5", F.lit(0)).cast("int").alias(
                "recall_fused_at_5"
            ),
            "fused_top1",
            "fused_top1_rrf",
            "exact_top1",
        )
        .orderBy("q_id")
    )


_RRF_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
full_ AS (SELECT vec_id, v, list_inner_product(v, v) AS n2 FROM e),
qfull AS (
  SELECT vec_id AS q_id, v AS qv, n2 AS q_n2
  FROM full_ WHERE vec_id % {_QUERY_MOD} = 0
),
trunc AS (
  SELECT vec_id, list_slice(v, 1, {_TRUNC_DIMS}) AS tv FROM full_
),
truncn AS (SELECT vec_id, tv, list_inner_product(tv, tv) AS tn2 FROM trunc),
top_a AS (
  SELECT q_id, vec_id, rk_a FROM (
    SELECT q.q_id, t.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY ROUND(list_inner_product(list_slice(q.qv, 1, {_TRUNC_DIMS}),
                                               list_slice(q.qv, 1, {_TRUNC_DIMS}))
                            + t.tn2
                            - 2 * list_inner_product(list_slice(q.qv, 1, {_TRUNC_DIMS}), t.tv), 4),
                      t.vec_id) AS rk_a
    FROM truncn t, qfull q
    WHERE t.vec_id <> q.q_id)
  WHERE rk_a <= {_RRF_K}
),
dims AS (
  SELECT vec_id, i AS dim, v[i] AS x
  FROM e, LATERAL (SELECT unnest(generate_series(1, {_PQ_M * _PQ_DSUB})) AS i) idx
),
cal AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY dim),
codes AS (
  SELECT d.vec_id, d.dim, c.mn, c.mx,
         CASE WHEN c.mx > c.mn
              -- div-safe: guarded by the mx > mn CASE arm
              THEN floor((d.x - c.mn) / (c.mx - c.mn) * 255 + 0.5)
              ELSE 0 END AS cc
  FROM dims d JOIN cal c USING (dim)
),
recon AS (
  SELECT vec_id, list(mn + cc / 255.0 * (mx - mn) ORDER BY dim) AS rv
  FROM codes GROUP BY vec_id
),
reconn AS (SELECT vec_id, rv, list_inner_product(rv, rv) AS rn2 FROM recon),
top_b AS (
  SELECT q_id, vec_id, rk_b FROM (
    SELECT q.q_id, r.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY ROUND(q.q_n2 + r.rn2
                            - 2 * list_inner_product(q.qv, r.rv), 4),
                      r.vec_id) AS rk_b
    FROM reconn r, qfull q
    WHERE r.vec_id <> q.q_id)
  WHERE rk_b <= {_RRF_K}
),
fused AS (
  SELECT COALESCE(a.q_id, b.q_id) AS q_id,
         COALESCE(a.vec_id, b.vec_id) AS vec_id,
         -- div-safe: RRF denominators are {_RRF_C} + rank >= {_RRF_C + 1}
         ROUND(COALESCE(1.0 / ({_RRF_C} + a.rk_a), 0)
               + COALESCE(1.0 / ({_RRF_C} + b.rk_b), 0), 6) AS rrf
  FROM top_a a FULL OUTER JOIN top_b b
    ON a.q_id = b.q_id AND a.vec_id = b.vec_id
),
top_f AS (
  SELECT q_id, vec_id, rrf,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY rrf DESC, vec_id) AS rk
  FROM fused
),
ex_top AS (
  SELECT q_id, vec_id, rk FROM (
    SELECT q.q_id, f.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY ROUND(q.q_n2 + f.n2
                            - 2 * list_inner_product(q.qv, f.v), 4),
                      f.vec_id) AS rk
    FROM full_ f, qfull q
    WHERE f.vec_id <> q.q_id)
  WHERE rk <= {_TOPK}
),
r_a AS (
  SELECT a.q_id, CAST(COUNT(*) AS INTEGER) AS recall_trunc_at_5
  FROM top_a a JOIN ex_top x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
  WHERE a.rk_a <= {_TOPK}
  GROUP BY a.q_id
),
r_b AS (
  SELECT b.q_id, CAST(COUNT(*) AS INTEGER) AS recall_sq8_at_5
  FROM top_b b JOIN ex_top x ON b.q_id = x.q_id AND b.vec_id = x.vec_id
  WHERE b.rk_b <= {_TOPK}
  GROUP BY b.q_id
),
r_f AS (
  SELECT f.q_id, CAST(COUNT(*) AS INTEGER) AS recall_fused_at_5
  FROM top_f f JOIN ex_top x ON f.q_id = x.q_id AND f.vec_id = x.vec_id
  WHERE f.rk <= {_TOPK}
  GROUP BY f.q_id
)
SELECT t.q_id,
       CAST(COALESCE(ra.recall_trunc_at_5, 0) AS INTEGER) AS recall_trunc_at_5,
       CAST(COALESCE(rb.recall_sq8_at_5, 0) AS INTEGER) AS recall_sq8_at_5,
       CAST(COALESCE(rf.recall_fused_at_5, 0) AS INTEGER) AS recall_fused_at_5,
       t.vec_id AS fused_top1,
       t.rrf AS fused_top1_rrf,
       x.vec_id AS exact_top1
FROM top_f t
JOIN ex_top x ON t.q_id = x.q_id AND x.rk = 1
LEFT JOIN r_a ra ON ra.q_id = t.q_id
LEFT JOIN r_b rb ON rb.q_id = t.q_id
LEFT JOIN r_f rf ON rf.q_id = t.q_id
WHERE t.rk = 1
ORDER BY t.q_id
"""


def ann_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus (every vector gets its
    top-3 in-cell neighbors, plus a mutual-kNN flag) — the structure behind
    SemDeDup cluster sweeps, diversity filtering, and graph-based label
    propagation; unlike :func:`ann_ivf_topk` (a query workload), this is the
    index-construction workload.

    Plan shape: one IVF coarse assignment (broadcast centroid crossJoin),
    then a bucket equi-self-join — quadratic ONLY within a cell, sharded
    across executors by the bucket key; the mutual flag is a self
    equi-join of the (already tiny) edge list on the reversed key pair.
    The cell count GROWS with the corpus — ``max(8, ceil(√N))``, the flat
    IVF balance point where assignment (N·cells) and in-cell scoring
    (N·cellsize) are both ~N^1.5 — computed from the same COUNT in both
    engines. (r6 fix: the r5 version used the fixed 8-cell codebook, so
    in-cell pairs grew quadratically — the 10× scale smoke read 19×; with
    √N cells the same smoke reads 2.0×.) The count is driver-side but
    bounded metadata, like the graph module's measured-rows partition
    sizing."""
    e = _vectors(spark, sf_dir)
    # float sqrt + ceil, NOT isqrt — must match the oracle's
    # CAST(ceil(sqrt(COUNT(*))) AS BIGINT) bit-for-bit
    n = e.count()
    n_cells = max(_N_CENTROIDS, int(math.ceil(math.sqrt(n))))
    assign = materialize(_ivf_assign(e, n_centroids=n_cells))
    a = assign.select(
        "bucket", F.col("vec_id").alias("src"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = assign.select(
        "bucket", F.col("vec_id").alias("dst"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    # div-safe: unit-norm embeddings by data contract
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    # cosine is symmetric: evaluate the (interpreted, 64-element) fold once
    # per unordered pair, then mirror the scored edge — halves the dominant
    # cost (measured 4.3 s → ~2.5 s at sf0.1) with identical results.
    half = (
        a.join(b, "bucket")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", F.round(cos, 6).alias("cos_sim"))
    )
    half = materialize(half)
    sym = half.unionByName(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cos_sim"
        )
    )
    edges = (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
    )
    edges = materialize(edges)
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(True).alias("m")
    )
    return (
        edges.join(rev, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
            F.coalesce("m", F.lit(False)).alias("mutual"),
        )
        .orderBy("src", "rank")
    )


_KNN_GRAPH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ncells AS (
  SELECT GREATEST({_N_CENTROIDS},
                  CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) AS n FROM e
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < (SELECT n FROM ncells)
),
assign AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, cent.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ROUND(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                                       cent.cid) AS arn
    FROM e, cent)
  WHERE arn = 1
),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
  FROM assign a JOIN assign b USING (bucket)
  WHERE a.vec_id <> b.vec_id
),
edges AS (
  SELECT src, dst, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY cos_sim DESC, dst) AS rank
  FROM scored
  QUALIFY rank <= {_IVF_TOPK}
)
SELECT e1.src, e1.dst, e1.cos_sim, CAST(e1.rank AS INTEGER) AS rank,
       e2.src IS NOT NULL AS mutual
FROM edges e1
LEFT JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
ORDER BY e1.src, e1.rank
"""


# --------------------------------------------------------------------------
# Embedding PCA spectrum via deterministic power iteration
# --------------------------------------------------------------------------

#: fixed power-iteration depth — the 12-step TRACE is the deliverable, so
#: convergence is an observable, not a loop condition.
_PCA_ITERS = 12
#: per-step re-sync rounding: both engines round every normalized
#: coordinate to 10 decimals each iteration, so sub-5e-11 float-association
#: differences can never accumulate across steps.
_PCA_SYNC_ROUND = 10


def _pca_cov_collect(spark: SparkSession, sf_dir: str):
    """Distributed one-pass covariance sketch: centered outer products
    map-side (two chained posexplodes over the broadcast-mean-centered
    array — no self-join), aggregated into exactly d*d cells and collected
    like the PQ codebooks. Returns ``(C, d, trace)`` with every entry
    rounded half-away-from-zero at ``_PCA_SYNC_ROUND`` so both engines
    iterate from a bit-identical matrix."""
    e = _vectors(spark, sf_dir).select("vec_id", "v")
    n = e.count()  # bounded action: one long, drives the 1/n scaling
    dims = e.select("vec_id", F.posexplode("v").alias("p", "x")).select(
        "vec_id", (F.col("p") + 1).alias("i"), "x"
    )
    mu_rows = (
        dims.groupBy("i")
        .agg(F.round(F.avg("x"), _PCA_SYNC_ROUND).alias("mu"))
        .collect()
    )
    mu = [r["mu"] for r in sorted(mu_rows, key=lambda r: int(r["i"]))]
    d = len(mu)
    cv = F.transform(
        "v", lambda x, j: x - F.element_at(F.array(*[F.lit(m) for m in mu]), j + 1)
    )
    rows_i = e.select(
        cv.alias("cv"), F.posexplode(cv).alias("pi", "xci")
    )
    prods = rows_i.select(
        (F.col("pi") + 1).alias("i"),
        F.posexplode(
            F.transform("cv", lambda y: y * F.col("xci"))
        ).alias("pj", "prod"),
    ).select("i", (F.col("pj") + 1).alias("j"), "prod")
    c_rows = (
        prods.groupBy("i", "j")
        # div-safe: n = COUNT of embeddings, >= 1 on a non-empty corpus
        .agg(F.round(F.sum("prod") / F.lit(float(n)), _PCA_SYNC_ROUND).alias("val"))
        .collect()
    )
    C = {(int(r["i"]), int(r["j"])): float(r["val"]) for r in c_rows}
    trace = _round_half_up(sum(C[(i, i)] for i in range(1, d + 1)), 8)
    return C, d, trace


def _pca_power(C: dict, d: int, seed_dim: int, iters: int = _PCA_ITERS):
    """Deterministic power iteration on a collected covariance dict: yields
    ``(iter, lambda_est, v)`` per step, every normalized coordinate rounded
    half-away-from-zero at ``_PCA_SYNC_ROUND`` (the cross-engine re-sync
    discipline; see :func:`embedding_pca_power_iteration`)."""
    v = [1.0 if i == seed_dim else 0.0 for i in range(1, d + 1)]
    for it in range(1, iters + 1):
        w = [
            sum(C[(i, j)] * v[j - 1] for j in range(1, d + 1))
            for i in range(1, d + 1)
        ]
        nrm = sum(x * x for x in w) ** 0.5
        lam = _round_half_up(nrm, 6)
        # div-safe: nrm > 0 (python) — C has positive diagonal mass and the
        # seed never lands in its null space on real embedding data
        v = [_round_half_up(x / nrm, _PCA_SYNC_ROUND) for x in w]
        yield it, lam, v


def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum QA for the embedding corpus: the top principal
    component extracted by POWER ITERATION on the covariance matrix, with
    the full 12-step iteration trace as the output — per step, the
    Rayleigh/norm eigenvalue estimate, its variance-explained fraction of
    the trace, and the leading loading dimension. The convergence of
    ``lambda_est`` across rows IS the health signal, in both directions: a
    collapsed embedding space converges in 2 steps to a dominant
    eigenvalue near the trace, while a healthy near-isotropic corpus (like
    the synthetic one) climbs slowly through the flat spectrum — the
    estimates are provably monotone nondecreasing and bounded by the true
    top eigenvalue (pytest cross-checks both against numpy).

    The 100 TB split done right: the DISTRIBUTED pass is the one-pass
    64x64 covariance — centered outer products map-side (two chained
    posexplodes over the broadcast-mean-centered array, NO self-join),
    aggregated into exactly 4096 cells. The 64x64 eigen-iteration is then
    genuinely driver-scale math on that bounded sketch (collected like the
    PQ codebooks), never a distributed job. Cross-engine determinism: C
    entries, means, and every per-step normalized coordinate are rounded
    half-away-from-zero (``_round_half_up`` = F.round = DuckDB ROUND) at
    10 decimals — float association errors (~1e-13) re-sync each step, so
    the Python loop and the oracle's WITH RECURSIVE replay produce
    bit-identical traces."""
    C, d, trace = _pca_cov_collect(spark, sf_dir)
    out = []
    for it, lam, v in _pca_power(C, d, seed_dim=1):
        lead = max(range(d), key=lambda k: (abs(v[k]), -k))
        out.append(
            (
                it,
                lam,
                # div-safe: trace > 0 (python) — sum of per-dim variances
                _round_half_up(lam / trace, 6),
                lead + 1,
                _round_half_up(v[lead], 6),
            )
        )
    return spark.createDataFrame(
        out,
        schema="iter int, lambda_est double, var_explained double, "
        "lead_dim int, lead_loading double",
    ).orderBy("iter")


_PCA_SQL = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT COUNT(*) AS n FROM e),
dims AS (
  SELECT vec_id, i, v[i] AS x
  FROM e, LATERAL (SELECT unnest(generate_series(1, {_PQ_M * _PQ_DSUB})) AS i) idx
),
mu AS (SELECT i, ROUND(AVG(x), {_PCA_SYNC_ROUND}) AS mu FROM dims GROUP BY i),
cent AS (
  SELECT d.vec_id, d.i, d.x - m.mu AS xc FROM dims d JOIN mu m USING (i)
),
c AS (
  -- div-safe: n = COUNT of embeddings, >= 1 on a non-empty corpus
  SELECT a.i AS i, b.i AS j,
         ROUND(SUM(a.xc * b.xc) / (SELECT CAST(n AS DOUBLE) FROM n),
               {_PCA_SYNC_ROUND}) AS val
  FROM cent a JOIN cent b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
tr AS (SELECT ROUND(SUM(val), 8) AS trace FROM c WHERE i = j),
it(iter, i, v, lam) AS (
  -- seed must be DOUBLE: the recursive union coerces every later
  -- iteration to the seed's type, and a DECIMAL(2,1) seed would round
  -- each normalized coordinate to one decimal
  SELECT 0, i,
         CAST(CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE),
         CAST(0.0 AS DOUBLE)
  FROM (SELECT DISTINCT i FROM c)
  UNION ALL
  -- div-safe: nrm > 0 (positive-diagonal covariance, nonzero seed)
  SELECT iter + 1, i, ROUND(w / nrm, {_PCA_SYNC_ROUND}), ROUND(nrm, 6)
  FROM (
    SELECT r.iter, c.i, SUM(c.val * r.v) AS w,
           -- div-safe: nrm > 0 (positive-diagonal covariance, nonzero seed)
           SQRT(SUM(SUM(c.val * r.v) * SUM(c.val * r.v))
                OVER (PARTITION BY r.iter)) AS nrm
    FROM it r JOIN c ON c.j = r.i
    WHERE r.iter < {_PCA_ITERS}
    GROUP BY r.iter, c.i
  )
),
lead AS (
  SELECT iter, i, v, lam,
         ROW_NUMBER() OVER (PARTITION BY iter ORDER BY ABS(v) DESC, i) AS rn
  FROM it WHERE iter >= 1
)
SELECT CAST(iter AS INTEGER) AS iter,
       lam AS lambda_est,
       -- div-safe: trace > 0 (sum of per-dim variances of real embeddings)
       ROUND(lam / (SELECT trace FROM tr), 6) AS var_explained,
       CAST(i AS INTEGER) AS lead_dim,
       ROUND(v, 6) AS lead_loading
FROM lead
WHERE rn = 1
ORDER BY iter
"""


def embedding_pca_top2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA via power iteration + Hotelling DEFLATION: after the first
    component (12 deterministic steps, seed e1), the covariance is deflated
    — ``C2 = C - lambda1 * v1 v1^T``, every entry re-rounded at the sync
    precision — and the iteration re-runs on C2 for the second component,
    seeded at e1 unless v1's leading dimension IS dim 1 (then e2), a
    deterministic rule both engines apply. Output: one row per component
    with its eigenvalue estimate, variance-explained share, leading
    loading, and the cumulative explained fraction — the 2-component
    spectrum summary an embedding-QA dashboard tracks.

    Deflation with an approximate v1 is itself approximate (standard
    Hotelling behavior); determinism, not exactness, is the cross-engine
    contract, and the pytest checks both eigenvalue estimates against
    numpy's true spectrum bounds. Scale shape: identical to
    :func:`embedding_pca_power_iteration` — one distributed covariance
    pass, then driver-scale math on the bounded sketch."""
    C, d, trace = _pca_cov_collect(spark, sf_dir)
    for _, lam1, v1 in _pca_power(C, d, seed_dim=1):
        pass
    lead1 = max(range(d), key=lambda k: (abs(v1[k]), -k))
    seed2 = 2 if lead1 + 1 == 1 else 1
    C2 = {
        (i, j): _round_half_up(
            C[(i, j)] - lam1 * v1[i - 1] * v1[j - 1], _PCA_SYNC_ROUND
        )
        for i in range(1, d + 1)
        for j in range(1, d + 1)
    }
    for _, lam2, v2 in _pca_power(C2, d, seed_dim=seed2):
        pass
    lead2 = max(range(d), key=lambda k: (abs(v2[k]), -k))
    rows = [
        (
            1,
            lam1,
            # div-safe: trace > 0 (python) — sum of per-dim variances
            _round_half_up(lam1 / trace, 6),
            lead1 + 1,
            _round_half_up(v1[lead1], 6),
            _round_half_up(lam1 / trace, 6),
        ),
        (
            2,
            lam2,
            # div-safe: trace > 0 (python), both component shares
            _round_half_up(lam2 / trace, 6),
            lead2 + 1,
            _round_half_up(v2[lead2], 6),
            _round_half_up((lam1 + lam2) / trace, 6),
        ),
    ]
    return spark.createDataFrame(
        rows,
        schema="component int, lambda_est double, var_explained double, "
        "lead_dim int, lead_loading double, cum_var_explained double",
    ).orderBy("component")


_PCA2_SQL = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT COUNT(*) AS n FROM e),
dims AS (
  SELECT vec_id, i, v[i] AS x
  FROM e, LATERAL (SELECT unnest(generate_series(1, {_PQ_M * _PQ_DSUB})) AS i) idx
),
mu AS (SELECT i, ROUND(AVG(x), {_PCA_SYNC_ROUND}) AS mu FROM dims GROUP BY i),
cent AS (
  SELECT d.vec_id, d.i, d.x - m.mu AS xc FROM dims d JOIN mu m USING (i)
),
c AS (
  -- div-safe: n = COUNT of embeddings, >= 1 on a non-empty corpus
  SELECT a.i AS i, b.i AS j,
         ROUND(SUM(a.xc * b.xc) / (SELECT CAST(n AS DOUBLE) FROM n),
               {_PCA_SYNC_ROUND}) AS val
  FROM cent a JOIN cent b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
tr AS (SELECT ROUND(SUM(val), 8) AS trace FROM c WHERE i = j),
it1(iter, i, v, lam) AS (
  SELECT 0, i,
         CAST(CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE),
         CAST(0.0 AS DOUBLE)
  FROM (SELECT DISTINCT i FROM c)
  UNION ALL
  -- div-safe: nrm > 0 (positive-diagonal covariance, nonzero seed)
  SELECT iter + 1, i, ROUND(w / nrm, {_PCA_SYNC_ROUND}), ROUND(nrm, 6)
  FROM (
    SELECT r.iter, c.i, SUM(c.val * r.v) AS w,
           SQRT(SUM(SUM(c.val * r.v) * SUM(c.val * r.v))
                OVER (PARTITION BY r.iter)) AS nrm
    FROM it1 r JOIN c ON c.j = r.i
    WHERE r.iter < {_PCA_ITERS}
    GROUP BY r.iter, c.i
  )
),
v1 AS (SELECT i, v FROM it1 WHERE iter = {_PCA_ITERS}),
lam1 AS (SELECT MAX(lam) AS lam FROM it1 WHERE iter = {_PCA_ITERS}),
lead1 AS (
  SELECT i, v FROM (
    SELECT i, v, ROW_NUMBER() OVER (ORDER BY ABS(v) DESC, i) AS rn FROM v1)
  WHERE rn = 1
),
seed2 AS (SELECT CASE WHEN (SELECT i FROM lead1) = 1 THEN 2 ELSE 1 END AS sd),
c2 AS (
  SELECT c.i, c.j,
         ROUND(c.val - (SELECT lam FROM lam1) * a.v * b.v,
               {_PCA_SYNC_ROUND}) AS val
  FROM c JOIN v1 a ON a.i = c.i JOIN v1 b ON b.i = c.j
),
it2(iter, i, v, lam) AS (
  SELECT 0, i,
         CAST(CASE WHEN i = (SELECT sd FROM seed2) THEN 1.0 ELSE 0.0 END
              AS DOUBLE),
         CAST(0.0 AS DOUBLE)
  FROM (SELECT DISTINCT i FROM c2)
  UNION ALL
  -- div-safe: nrm > 0 (nonzero residual spectrum, nonzero seed)
  SELECT iter + 1, i, ROUND(w / nrm, {_PCA_SYNC_ROUND}), ROUND(nrm, 6)
  FROM (
    SELECT r.iter, c2.i, SUM(c2.val * r.v) AS w,
           SQRT(SUM(SUM(c2.val * r.v) * SUM(c2.val * r.v))
                OVER (PARTITION BY r.iter)) AS nrm
    FROM it2 r JOIN c2 ON c2.j = r.i
    WHERE r.iter < {_PCA_ITERS}
    GROUP BY r.iter, c2.i
  )
),
lam2 AS (SELECT MAX(lam) AS lam FROM it2 WHERE iter = {_PCA_ITERS}),
lead2 AS (
  SELECT i, v FROM (
    SELECT i, v, ROW_NUMBER() OVER (ORDER BY ABS(v) DESC, i) AS rn
    FROM it2 WHERE iter = {_PCA_ITERS})
  WHERE rn = 1
)
SELECT 1 AS component,
       (SELECT lam FROM lam1) AS lambda_est,
       -- div-safe: trace > 0 (sum of per-dim variances), both ratios
       ROUND((SELECT lam FROM lam1) / (SELECT trace FROM tr), 6)
         AS var_explained,
       CAST((SELECT i FROM lead1) AS INTEGER) AS lead_dim,
       ROUND((SELECT v FROM lead1), 6) AS lead_loading,
       -- div-safe: trace > 0 (per-dim variance sum)
       ROUND((SELECT lam FROM lam1) / (SELECT trace FROM tr), 6)
         AS cum_var_explained
UNION ALL
SELECT 2,
       (SELECT lam FROM lam2),
       -- div-safe: trace > 0 (per-dim variance sum), all three ratios
       ROUND((SELECT lam FROM lam2) / (SELECT trace FROM tr), 6),
       CAST((SELECT i FROM lead2) AS INTEGER),
       ROUND((SELECT v FROM lead2), 6),
       -- div-safe: trace > 0 (see above)
       ROUND(((SELECT lam FROM lam1) + (SELECT lam FROM lam2))
             / (SELECT trace FROM tr), 6)
ORDER BY component
"""


def embedding_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two corpus snapshots — the retrain
    trigger for anything that consumes the embeddings (ANN indexes, k-means
    codebooks, semantic dedup thresholds): per label, the cosine between
    the old and new snapshot CENTROIDS and the centroid-norm ratio. A
    centroid cosine well below 1 means the region moved, not just resampled.

    Plan shape: one ``posexplode`` of the vectors into (label, dim, x) —
    the dimension-exploded analytics layout — then two bounded aggregates:
    per (label, snapshot, dim) means (64·|labels|·2 rows), then the cosine
    from dim-level sums of products. The corpus is scanned once; everything
    after the first aggregate is metadata-sized. Per-dim centroid means
    ROUND to 8 dp before the cosine combination (the PSI precedent: both
    engines then combine identical doubles; final values ROUND to 6)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    both = e.select(
        "vec_id", "label", F.posexplode("v").alias("dim", "x")
    ).select(
        "label",
        "dim",
        "x",
        (F.col("vec_id") % 20 != 5).alias("in_a"),
        (F.col("vec_id") % 20 != 0).alias("in_b"),
    )
    per_dim = both.groupBy("label", "dim").agg(
        F.round(
            # div-safe: empty conditional SUM gives NULL/NULL -> NULL in both engines
            F.sum(F.when(F.col("in_a"), F.col("x"))) /
            F.sum(F.when(F.col("in_a"), 1)),
            8,
        ).alias("ca"),
        F.round(
            # div-safe: empty conditional SUM gives NULL/NULL -> NULL in both engines
            F.sum(F.when(F.col("in_b"), F.col("x"))) /
            F.sum(F.when(F.col("in_b"), 1)),
            8,
        ).alias("cb"),
    )
    per_label = per_dim.groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sum(F.col("ca") * F.col("ca")).alias("na2"),
        F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
    )
    counts = (
        e.select(
            "label",
            (F.col("vec_id") % 20 != 5).cast("long").alias("a"),
            (F.col("vec_id") % 20 != 0).cast("long").alias("b"),
        )
        .groupBy("label")
        .agg(F.sum("a").alias("n_a"), F.sum("b").alias("n_b"))
    )
    return (
        per_label.join(counts, "label")
        .select(
            F.col("label").cast("int").alias("label"),
            "n_a",
            "n_b",
            F.round(
                # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
                F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")), 6
            ).alias("centroid_cos"),
            # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
            F.round(F.sqrt("nb2") / F.sqrt("na2"), 6).alias("norm_ratio"),
        )
        .orderBy("label")
    )


_SNAPSHOT_DRIFT_SQL = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
exploded AS (
  SELECT label,
         generate_subscripts(v, 1) AS dim,
         unnest(v) AS x,
         vec_id % 20 <> 5 AS in_a,
         vec_id % 20 <> 0 AS in_b
  FROM e
),
per_dim AS (
  SELECT label, dim,
         ROUND(SUM(CASE WHEN in_a THEN x END)
               -- div-safe: empty conditional SUM gives NULL/NULL -> NULL in both engines
               / SUM(CASE WHEN in_a THEN 1 END), 8) AS ca,
         ROUND(SUM(CASE WHEN in_b THEN x END)
               -- div-safe: empty conditional SUM gives NULL/NULL -> NULL in both engines
               / SUM(CASE WHEN in_b THEN 1 END), 8) AS cb
  FROM exploded
  GROUP BY label, dim
),
per_label AS (
  SELECT label, SUM(ca * cb) AS dot,
         SUM(ca * ca) AS na2, SUM(cb * cb) AS nb2
  FROM per_dim GROUP BY label
),
counts AS (
  SELECT label,
         CAST(SUM(CASE WHEN vec_id % 20 <> 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN vec_id % 20 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM e GROUP BY label
)
SELECT CAST(p.label AS INTEGER) AS label, c.n_a, c.n_b,
       -- div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
       ROUND(p.dot / (SQRT(p.na2) * SQRT(p.nb2)), 6) AS centroid_cos,
       -- div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
       ROUND(SQRT(p.nb2) / SQRT(p.na2), 6) AS norm_ratio
FROM per_label p JOIN counts c USING (label)
ORDER BY label
"""


def embedding_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette clustering quality for the IVF coarse
    quantizer: per vector, cosine to its OWN centroid vs the best OTHER
    centroid; per cluster, the mean margin and the fraction of vectors
    that actually sit closer to another centroid — the index-health gauge
    that says when the codebook needs retraining (negative margins =
    vectors probing the wrong cell at nprobe=1).

    Exact and scale-safe: the centroid set is broadcast (a |corpus| × C
    map-side crossJoin — the same shape as assignment itself), so unlike
    true silhouette no pairwise distances are ever computed. Margins
    ROUND before aggregation; means divide exact counts."""
    e = _vectors(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    c_cos = F.round(
        # div-safe: unit-norm embeddings / nonzero centroid norms (data contract)
        _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("c_nrm")), 6
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", c_cos.alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cid"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
    own = ranked.filter(F.col("rk") == 1).select(
        "vec_id", F.col("cid").alias("bucket"), F.col("sim").alias("own_sim")
    )
    other = ranked.filter(F.col("rk") == 2).select(
        "vec_id", F.col("sim").alias("other_sim")
    )
    per_vec = own.join(other, "vec_id").select(
        "bucket",
        "own_sim",
        F.round(F.col("own_sim") - F.col("other_sim"), 6).alias("margin"),
    )
    return (
        per_vec.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # div-safe: COUNT of a GROUP BY group is >= 1
            F.round(F.sum("own_sim") / F.count(F.lit(1)), 6).alias("mean_own_sim"),
            # div-safe: COUNT of a GROUP BY group is >= 1
            F.round(F.sum("margin") / F.count(F.lit(1)), 6).alias("mean_margin"),
            F.round(
                # div-safe: COUNT of a GROUP BY group is >= 1
                F.count_if(F.col("margin") < 0) / F.count(F.lit(1)), 6
            ).alias("misassigned_frac"),
        )
        .orderBy("bucket")
    )


_SILHOUETTE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, cent.cid,
         ROUND(list_cosine_similarity(e.v, cent.cv), 6) AS sim
  FROM e, cent
),
ranked AS (
  SELECT vec_id, cid, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
  FROM scored
),
per_vec AS (
  SELECT o.cid AS bucket, o.sim AS own_sim,
         ROUND(o.sim - x.sim, 6) AS margin
  FROM (SELECT vec_id, cid, sim FROM ranked WHERE rk = 1) o
  JOIN (SELECT vec_id, sim FROM ranked WHERE rk = 2) x USING (vec_id)
)
SELECT bucket,
       COUNT(*) AS n_vecs,
       -- div-safe: COUNT of a GROUP BY group is >= 1
       ROUND(SUM(own_sim) / COUNT(*), 6) AS mean_own_sim,
       -- div-safe: COUNT of a GROUP BY group is >= 1
       ROUND(SUM(margin) / COUNT(*), 6) AS mean_margin,
       -- div-safe: COUNT of a GROUP BY group is >= 1
       ROUND(CAST(count_if(margin < 0) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6)
         AS misassigned_frac
FROM per_vec
GROUP BY bucket
ORDER BY bucket
"""




# --------------------------------------------------------------------------
# OPQ: variance-balancing dimension permutation before PQ (r6 verdict #8)
# --------------------------------------------------------------------------
#
# Production PQ pipelines (FAISS OPQ, ScaNN AH) insert a learned rotation
# between the raw vectors and the quantizer so every subspace carries a
# comparable share of the corpus variance — a subspace with 10x the energy
# of another wastes codebook budget on the quiet one. The full OPQ learns an
# orthogonal matrix by alternating SVD; the deterministic, SQL-replayable
# member of that family implemented here is the PERMUTATION variant (also
# the standard OPQ initialization): rank dimensions by corpus variance and
# deal them into subspaces in snake order, so each subspace receives one
# dim from every variance tier.

_OPQ_D = _PQ_M * _PQ_DSUB  # full dimensionality (64)


def _dim_moments(e: DataFrame) -> DataFrame:
    """Per-dimension exact variance moments: (dim, n, var_num) where
    ``var_num = ROUND(n*sxx - sx^2, 6)`` is computed in double from
    addition-order-exact DECIMAL sums of ROUND(x, 6) — the repo's standard
    cross-engine regression discipline, so the variance RANKING (the only
    thing the permutation consumes) is engine-identical."""
    dims = e.select("vec_id", F.posexplode("v").alias("dim", "x"))

    def dsum(expr) -> Column:
        return F.sum(F.round(expr, 6).cast("decimal(24,8)"))

    agg = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "dim",
        "n",
        F.round(
            n * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double"),
            6,
        ).alias("var_num"),
    )


def _opq_mapping(e: DataFrame) -> DataFrame:
    """The learned permutation as a 64-row broadcastable mapping
    (dim, new_dim, m, var_num): rank dims by variance desc (dim tiebreak),
    snake-deal rank r into subspace m, position r // M within it."""
    w = Window.orderBy(F.desc("var_num"), F.asc("dim"))
    ranked = _dim_moments(e).withColumn(
        "r", F.row_number().over(w) - F.lit(1)
    )
    tier = F.col("r") % _PQ_M
    even_pass = (F.col("r") / _PQ_M).cast("long") % 2 == 0
    m = F.when(even_pass, tier).otherwise(_PQ_M - 1 - tier)
    return materialize(
        ranked.select(
            "dim",
            "var_num",
            m.cast("int").alias("m"),
            (m * _PQ_DSUB + (F.col("r") / _PQ_M).cast("long"))
            .cast("int")
            .alias("new_dim"),
        )
    )


def ann_opq_subspace_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ permutation vs natural dimension order at the same codebook
    budget, value-checked end to end: for each layout, train the standard
    PQ codebooks (seed + one Lloyd round) and report the mean squared
    subspace quantization error plus the per-subspace variance balance
    (min/max subspace variance share and their spread ratio). The
    permutation provably evens the variance columns; whether that buys
    reconstruction error on a given corpus is exactly what this query
    measures — both numbers from exact DECIMAL sums, so DuckDB replays the
    full train→assign→error pipeline bit-for-bit.

    Scale shape: the mapping is 64 rows (broadcast); permutation is a
    map-side array rebuild (no shuffle added over plain PQ); training and
    assignment reuse the PQ machinery whose plans are already audited.

    Cites reference capability surface only (no same-named reference file):
    the reference engine has no ANN layer — this extends SURVEY §2's
    similarity family along the FAISS/ScaNN production axis."""
    e = _vectors(spark, sf_dir).select("vec_id", "v")
    mapping = _opq_mapping(e)

    # permuted corpus: v'[new_dim] = v[dim] — rebuilt map-side per vector
    dims = e.select("vec_id", F.posexplode("v").alias("dim", "x"))
    perm = dims.join(F.broadcast(mapping.select("dim", "new_dim")), "dim").groupBy(
        "vec_id"
    ).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("new_dim", "x"))),
            lambda st: st["x"],
        ).alias("v")
    )

    def msqe(vecs: DataFrame) -> Column:
        """Train PQ on `vecs`, return the (1-row) mean squared subspace
        quantization error as an exact-DECIMAL mean, rounded to 6."""
        sub = _pq_subvectors(vecs)
        cent = _pq_train(sub)
        sq = (
            F.col("s_n2") + F.col("c_n2") - 2 * _dot(F.col("sv"), F.col("cv"))
        )
        # struct-min argmin (same rounded-key + cid-tiebreak winner as the
        # rank-1 window it replaces): the trailing err field rides along
        # and never orders — (k, cid) is already unique per group
        err = (
            sub.join(F.broadcast(cent), "m")
            .groupBy("vec_id", "m")
            .agg(
                F.min(
                    F.struct(
                        F.round(sq, 4).alias("k"),
                        F.col("cid"),
                        F.round(sq, 6).alias("err"),
                    )
                ).alias("mn")
            )
            .select(F.col("mn.err").alias("err"))
        )
        return err.agg(
            # div-safe: COUNT over the err frame >= 1 (one row per
            # (vec_id, m) of a non-empty corpus)
            F.round(
                F.sum(F.col("err").cast("decimal(24,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("msqe")
        )

    # per-subspace variance totals under each layout, from the SAME exact
    # per-dim moments (natural: m = dim // DSUB; opq: the learned mapping)
    bal = mapping.select(
        F.lit("opq_snake").alias("method"), "m", "var_num"
    ).unionByName(
        mapping.select(
            F.lit("natural").alias("method"),
            (F.col("dim") / _PQ_DSUB).cast("int").alias("m"),
            "var_num",
        )
    )
    spread = (
        bal.groupBy("method", "m")
        .agg(
            F.round(
                F.sum(F.col("var_num").cast("decimal(24,8)")).cast("double"), 6
            ).alias("sub_var")
        )
        .groupBy("method")
        .agg(
            F.round(F.min("sub_var"), 6).alias("min_subspace_var"),
            F.round(F.max("sub_var"), 6).alias("max_subspace_var"),
            # NULLIF guard (r9 div sweep): a zero-variance subspace (all
            # vectors identical in those dims) pins the spread to NULL in
            # both engines
            F.round(
                F.max("sub_var")
                / F.nullif(F.min("sub_var"), F.lit(0.0)),
                6,
            ).alias("var_spread"),
        )
    )
    err = msqe(e).select(
        F.lit("natural").alias("method"), "msqe"
    ).unionByName(msqe(perm).select(F.lit("opq_snake").alias("method"), "msqe"))
    return (
        spread.join(err, "method")
        .select(
            "method", "min_subspace_var", "max_subspace_var", "var_spread",
            "msqe",
        )
        .orderBy("method")
    )


def _opq_oracle() -> str:
    m, d, k = _PQ_M, _PQ_DSUB, _PQ_K

    def pq_err_ctes(src: str, p: str) -> str:
        """The PQ train→assign→error chain over vector CTE ``src``,
        prefixed ``p`` — mirrors _pq_ctes but carries the winning
        assignment's squared error instead of ADC tables."""
        return f"""
{p}sub AS (
  SELECT vec_id, m, list_slice(v, m * {d} + 1, m * {d} + {d}) AS sv
  FROM {src}, unnest(generate_series(0, {m - 1})) t(m)
),
{p}sub2 AS (SELECT *, list_inner_product(sv, sv) AS s_n2 FROM {p}sub),
{p}cent0 AS (
  SELECT m, vec_id AS cid, sv AS cv, s_n2 AS c_n2
  FROM {p}sub2 WHERE vec_id < {k}
),
{p}s1 AS (
  SELECT s.vec_id, s.m, c.cid,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
           ORDER BY ROUND(s.s_n2 + c.c_n2 - 2 * list_inner_product(s.sv, c.cv), 4),
                    c.cid) AS rn
  FROM {p}sub2 s JOIN {p}cent0 c ON s.m = c.m
),
{p}a1 AS (SELECT vec_id, m, cid AS code FROM {p}s1 WHERE rn = 1),
{p}dims AS (
  SELECT s.m, a.code AS cid, i AS dim, ROUND(AVG(s.sv[i]), 6) AS mx
  FROM {p}a1 a JOIN {p}sub2 s ON a.vec_id = s.vec_id AND a.m = s.m,
       LATERAL (SELECT unnest(generate_series(1, {d})) AS i) idx
  GROUP BY s.m, a.code, i
),
{p}cent1 AS (
  SELECT m, cid, list(mx ORDER BY dim) AS cv FROM {p}dims GROUP BY m, cid
),
{p}cent1n AS (SELECT *, list_inner_product(cv, cv) AS c_n2 FROM {p}cent1),
{p}s2 AS (
  SELECT s.vec_id, s.m,
         ROUND(s.s_n2 + c.c_n2 - 2 * list_inner_product(s.sv, c.cv), 6) AS err,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
           ORDER BY ROUND(s.s_n2 + c.c_n2 - 2 * list_inner_product(s.sv, c.cv), 4),
                    c.cid) AS rn
  FROM {p}sub2 s JOIN {p}cent1n c ON s.m = c.m
),
{p}err AS (
  -- div-safe: COUNT of a GROUP BY group is >= 1
  SELECT ROUND(CAST(SUM(CAST(err AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*), 6)
           AS msqe
  FROM {p}s2 WHERE rn = 1
)"""

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
edims AS (
  SELECT vec_id, i - 1 AS dim, v[i] AS x
  FROM e, LATERAL (SELECT unnest(generate_series(1, {_OPQ_D})) AS i) t
),
dmom AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(ROUND(x, 6) AS DECIMAL(24,8))) AS sx,
         SUM(CAST(ROUND(x * x, 6) AS DECIMAL(24,8))) AS sxx
  FROM edims GROUP BY dim
),
dvar AS (
  SELECT dim,
         ROUND(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
               6) AS var_num
  FROM dmom
),
ranked AS (
  SELECT dim, var_num,
         ROW_NUMBER() OVER (ORDER BY var_num DESC, dim) - 1 AS r
  FROM dvar
),
mapping AS (
  SELECT dim, var_num,
         CASE WHEN (r // {m}) % 2 = 0 THEN r % {m}
              ELSE {m} - 1 - (r % {m}) END AS m,
         CASE WHEN (r // {m}) % 2 = 0 THEN r % {m}
              ELSE {m} - 1 - (r % {m}) END * {d} + (r // {m}) AS new_dim
  FROM ranked
),
perm AS (
  SELECT e2.vec_id, list(e2.x ORDER BY mp.new_dim) AS v
  FROM edims e2 JOIN mapping mp ON e2.dim = mp.dim
  GROUP BY e2.vec_id
),
{pq_err_ctes('e', 'n_')},
{pq_err_ctes('perm', 'o_')},
bal AS (
  SELECT 'opq_snake' AS method, m, var_num FROM mapping
  UNION ALL
  SELECT 'natural' AS method, dim // {d} AS m, var_num FROM dvar
),
spread AS (
  SELECT method,
         ROUND(MIN(sub_var), 6) AS min_subspace_var,
         ROUND(MAX(sub_var), 6) AS max_subspace_var,
         -- NULLIF mirrors the Spark side's zero-variance-subspace guard
         ROUND(MAX(sub_var) / NULLIF(MIN(sub_var), 0), 6) AS var_spread
  FROM (
    SELECT method, m,
           ROUND(CAST(SUM(CAST(var_num AS DECIMAL(24,8))) AS DOUBLE), 6)
             AS sub_var
    FROM bal GROUP BY method, m
  ) GROUP BY method
),
err AS (
  SELECT 'natural' AS method, msqe FROM n_err
  UNION ALL
  SELECT 'opq_snake' AS method, msqe FROM o_err
)
SELECT s.method, s.min_subspace_var, s.max_subspace_var, s.var_spread, e2.msqe
FROM spread s JOIN err e2 ON s.method = e2.method
ORDER BY s.method
"""


_OPQ_SQL = _opq_oracle()

# --------------------------------------------------------------------------
# Johnson–Lindenstrauss sign projection (cheap dim reduction + audit)
# --------------------------------------------------------------------------

_JL_K = 16   # output dims (64 -> 16, 4x compression)
_JL_D = 64   # input embedding dims


def _jl_sign(j: int, i: int) -> float:
    """Deterministic ±1 from md5 — the SAME constant matrix is inlined
    into the Spark plan and the DuckDB oracle, so 'random projection' is
    a fixed broadcastable artifact, exactly like a trained codebook."""
    import hashlib

    h = int(hashlib.md5(f"jl_{j}_{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 1 else -1.0


_JL_SIGNS = [
    [_jl_sign(j, i) for i in range(1, _JL_D + 1)] for j in range(1, _JL_K + 1)
]


def embedding_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with its own
    distance-preservation audit: project 64-dim embeddings to 16 dims with
    a fixed ±1 sign matrix scaled by 1/sqrt(k) (the database-friendly JL
    transform — no training, pure map), then for a deterministic sample of
    pairs (vec_id 2t vs 2t+1) compare squared distances before and after.
    The histogram of d_proj²/d_orig² ratios IS the JL lemma made
    observable: mass concentrates around 1 with ~1/sqrt(k) spread.

    Scale shape: projection is a stateless map with a 1 KB literal matrix
    (at 100 TB: broadcast, fused into the scan — this is how you cut
    embedding storage 4x before ANN indexing); the pair audit is an
    adjacent-id equi-join, present only to measure distortion.

    Determinism: projected coordinates round at 8 dp, per-term squared
    diffs at 8, sums fold sequentially (F.aggregate ≡ list_sum over an
    ordered list), ratios round at 4 — both engines walk identical
    doubles."""
    e = _vectors(spark, sf_dir).select("vec_id", "v")
    y = F.array(
        *[
            F.round(
                _dot(F.col("v"), F.array(*[F.lit(s) for s in row]))
                # div-safe: sqrt(k) is a positive constant
                * F.lit(1.0 / math.sqrt(_JL_K)),
                8,
            )
            for row in _JL_SIGNS
        ]
    )
    proj = e.select("vec_id", "v", y.alias("y"))
    a = proj.select(
        (F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("v").alias("va"),
        F.col("y").alias("ya"),
    ).filter(F.col("vec_id") % 2 == 0)
    b = proj.select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("v").alias("vb"),
        F.col("y").alias("yb"),
    ).filter(F.col("vec_id") % 2 == 1)
    sq = lambda u, w: F.aggregate(  # noqa: E731 - local fold shorthand
        F.zip_with(u, w, lambda x, z: F.round((x - z) * (x - z), 8)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(b, "pair_id").select(
        F.round(sq(F.col("va"), F.col("vb")), 6).alias("d_x"),
        F.round(sq(F.col("ya"), F.col("yb")), 6).alias("d_y"),
    )
    # div-safe: rows reaching this expression pass the d_x > 0 filter
    ratio = F.round(F.col("d_y") / F.col("d_x"), 4)
    return (
        # div-safe: d_x > 0 enforced by the filter (distinct planted vectors)
        pairs.filter(F.col("d_x") > 0)
        .select((F.floor(ratio * 10) / 10.0).alias("ratio_bucket"),
                ratio.alias("ratio"))
        .groupBy("ratio_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("ratio"), 4).alias("avg_ratio"),
        )
        .orderBy("ratio_bucket")
    )


def _jl_sql() -> str:
    sign_rows = ",\n    ".join(
        f"({j + 1}, {_JL_SIGNS[j]}::DOUBLE[])" for j in range(_JL_K)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
signs(j, s) AS (VALUES
    {sign_rows}
),
yl AS (
  SELECT vec_id, j,
         ROUND(list_sum(list_transform(generate_series(1, {_JL_D}),
                                       i -> v[i] * s[i]))
               -- div-safe: sqrt(k) is a positive constant
               * {1.0 / math.sqrt(_JL_K)!r}, 8) AS yj
  FROM e, signs
),
proj AS (
  SELECT e.vec_id, e.v, (SELECT list(yj ORDER BY j) FROM yl
                         WHERE yl.vec_id = e.vec_id) AS y
  FROM e
),
pairs AS (
  SELECT ROUND(list_sum(list_transform(generate_series(1, {_JL_D}),
                 i -> ROUND((a.v[i] - b.v[i]) * (a.v[i] - b.v[i]), 8))), 6)
           AS d_x,
         ROUND(list_sum(list_transform(generate_series(1, {_JL_K}),
                 j -> ROUND((a.y[j] - b.y[j]) * (a.y[j] - b.y[j]), 8))), 6)
           AS d_y
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
),
rt AS (
  -- div-safe: d_x > 0 enforced by the filter (distinct planted vectors)
  SELECT FLOOR(ROUND(d_y / d_x, 4) * 10) / 10.0 AS ratio_bucket,
         ROUND(d_y / d_x, 4) AS ratio
  FROM pairs WHERE d_x > 0
)
SELECT ratio_bucket, COUNT(*) AS n_pairs, ROUND(AVG(ratio), 4) AS avg_ratio
FROM rt
GROUP BY ratio_bucket
ORDER BY ratio_bucket
"""


# --------------------------------------------------------------------------
# Maximal marginal relevance (diversity-aware retrieval)
# --------------------------------------------------------------------------

#: candidate pool per query (MMR reranks a cheap first-stage top-N).
_MMR_POOL = 12
#: results selected per query.
_MMR_K = 4
#: relevance/diversity trade-off: score = λ·rel − (1−λ)·max_sim_to_selected.
_MMR_LAMBDA = 0.7


def mmr_diversified_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998) —
    the standard diversity pass a RAG retriever runs so the context window
    isn't filled with {k} near-copies of the same passage: from each query's
    top-{pool} cosine candidates, greedily select {k} items maximizing
    ``λ·rel(q,d) − (1−λ)·max_{{s∈selected}} sim(d,s)``.

    Cross-engine determinism: relevance and candidate-pair similarities are
    ROUND()ed to 6 dp (the repo cosine ruleset), the MMR score is the same
    literal ``{lam}·rel − {one_minus}·red`` expression in both engines and
    is rounded before the per-round argmax, with ``neighbor_id`` as the
    unique tiebreak; the greedy recursion is replayed round by round.

    Scale shape: the pool is one broadcast-queries corpus pass + windowed
    top-{pool} (the ann_cosine_topk plan); pairwise similarities touch only
    pool rows ({pool}² per query); each greedy round is a hash join + MAX
    aggregate + windowed argmax on the q_id key — {k} bounded rounds, no
    step ever revisits the corpus."""
    e = _vectors(spark, sf_dir)
    q = e.filter(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_nrm"),
    )
    # div-safe: unit-norm embeddings / nonzero norms (data contract)
    rel_c = _dot(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand_id"),
            F.round(rel_c, 6).alias("rel"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    pool = materialize(
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
    )
    # pairwise similarities among pool members (vectors re-joined by key)
    ev = e.select("vec_id", "v", "nrm")
    pa = pool.select("q_id", F.col("cand_id").alias("a")).join(
        ev.select(
            F.col("vec_id").alias("a"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        ),
        "a",
    )
    pb = pool.select("q_id", F.col("cand_id").alias("b")).join(
        ev.select(
            F.col("vec_id").alias("b"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        ),
        "b",
    )
    # div-safe: unit-norm embeddings / nonzero norms (data contract)
    sim_c = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = materialize(
        pa.join(pb, "q_id")
        .filter(F.col("a") != F.col("b"))
        .select("q_id", "a", "b", F.round(sim_c, 6).alias("sim"))
    )
    lam, om = float(_MMR_LAMBDA), float(1.0 - _MMR_LAMBDA)
    sel_w = Window.partitionBy("q_id").orderBy(F.desc("mmr"), F.asc("cand_id"))
    first = (
        pool.select(
            "q_id",
            "cand_id",
            "rel",
            F.lit(0.0).alias("red"),
            # 7 dp, not 6: λ·rel − (1−λ)·red is a near-multiple of 1e-7
            # (rel/red are 6-dp multiples), so 6-dp rounding would sit ON
            # half-boundaries where engine ROUNDs disagree; at 7 dp the
            # value is ~1e-17 from a representable multiple — safe.
            F.round(F.lit(lam) * F.col("rel"), 7).alias("mmr"),
        )
        .withColumn("rn", F.row_number().over(sel_w))
        .filter(F.col("rn") == 1)
        .select("q_id", "cand_id", "rel", "red", "mmr", F.lit(1).alias("rank"))
    )
    selected = first
    for r in range(2, _MMR_K + 1):
        red = (
            pairs.join(
                selected.select("q_id", F.col("cand_id").alias("b")),
                ["q_id", "b"],
            )
            .groupBy("q_id", "a")
            .agg(F.max("sim").alias("red"))
        )
        cand = (
            pool.join(
                selected.select("q_id", "cand_id"), ["q_id", "cand_id"],
                "left_anti",
            )
            .join(red.withColumnRenamed("a", "cand_id"), ["q_id", "cand_id"])
            .select(
                "q_id",
                "cand_id",
                "rel",
                "red",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(om) * F.col("red"), 7
                ).alias("mmr"),
            )
        )
        pick = (
            cand.withColumn("rn", F.row_number().over(sel_w))
            .filter(F.col("rn") == 1)
            .select(
                "q_id", "cand_id", "rel", "red", "mmr", F.lit(r).alias("rank")
            )
        )
        selected = materialize(selected.unionByName(pick))
    return selected.select(
        "q_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("cand_id").alias("neighbor_id"),
        "rel",
        "red",
        "mmr",
    ).orderBy("q_id", "rank")


mmr_diversified_retrieval.__doc__ = mmr_diversified_retrieval.__doc__.format(
    pool=_MMR_POOL, k=_MMR_K, lam=_MMR_LAMBDA,
    one_minus=round(1.0 - _MMR_LAMBDA, 3),
)


def _mmr_sql() -> str:
    lam, om = float(_MMR_LAMBDA), float(1.0 - _MMR_LAMBDA)
    sels = []
    prev_union = "SELECT q_id, cand_id FROM sel1"
    sels.append(f"""
sel1 AS (
  SELECT q_id, cand_id, rel, 0.0 AS red,
         ROUND({lam!r} * rel, 7) AS mmr, 1 AS rank
  FROM (
    SELECT q_id, cand_id, rel,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY ROUND({lam!r} * rel, 7) DESC,
                                       cand_id) AS rn
    FROM pool)
  WHERE rn = 1
)""")
    for r in range(2, _MMR_K + 1):
        sels.append(f"""
sel{r} AS (
  SELECT q_id, cand_id, rel, red, mmr, {r} AS rank
  FROM (
    SELECT p.q_id, p.cand_id, p.rel, rd.red,
           ROUND({lam!r} * p.rel - {om!r} * rd.red, 7) AS mmr,
           ROW_NUMBER() OVER (PARTITION BY p.q_id
                              ORDER BY ROUND({lam!r} * p.rel
                                             - {om!r} * rd.red, 7) DESC,
                                       p.cand_id) AS rn
    FROM pool p
    JOIN (SELECT pr.q_id, pr.a AS cand_id, MAX(pr.sim) AS red
          FROM pairs pr
          JOIN ({prev_union}) s ON pr.q_id = s.q_id AND pr.b = s.cand_id
          GROUP BY pr.q_id, pr.a) rd
      ON rd.q_id = p.q_id AND rd.cand_id = p.cand_id
    LEFT JOIN ({prev_union}) sj
      ON sj.q_id = p.q_id AND sj.cand_id = p.cand_id
    WHERE sj.cand_id IS NULL)
  WHERE rn = 1
)""")
        prev_union = " UNION ALL ".join(
            f"SELECT q_id, cand_id FROM sel{i}" for i in range(1, r + 1)
        )
    all_union = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, _MMR_K + 1)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {_QUERY_MOD} = 0),
scored AS (
  SELECT q_id, e.vec_id AS cand_id,
         ROUND(list_cosine_similarity(qv, v), 6) AS rel
  FROM q, e
  WHERE e.vec_id <> q_id
),
pool AS (
  SELECT q_id, cand_id, rel FROM (
    SELECT q_id, cand_id, rel,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY rel DESC, cand_id) AS rn
    FROM scored)
  WHERE rn <= {_MMR_POOL}
),
pairs AS (
  SELECT pa.q_id, pa.cand_id AS a, pb.cand_id AS b,
         ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS sim
  FROM pool pa
  JOIN pool pb ON pb.q_id = pa.q_id AND pb.cand_id <> pa.cand_id
  JOIN e ea ON ea.vec_id = pa.cand_id
  JOIN e eb ON eb.vec_id = pb.cand_id
),{",".join(sels)}
SELECT q_id, CAST(rank AS INTEGER) AS rank, cand_id AS neighbor_id,
       rel, red, mmr
FROM ({all_union})
ORDER BY q_id, rank
"""


def _bounded_embeddings(fn):
    """Run an embeddings-only query's EAGER work (Lloyd codebook training
    collects, candidate/code-table materializes) under the shared
    bounded-iteration pin, sized from the measured embedding-corpus row
    count: every intermediate here is the corpus times a bounded constant
    (8 subspaces, nprobe ≤ 2, top-k ≤ 5), so partitions derived from the
    corpus size are right for every stage, and AQE's per-exchange sub-jobs
    are pure overhead on them (see operators.bounded_iteration). The
    RETURNED plan is lazy and executes at the caller's session conf."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the corpus row count comes from the parquet footer (pure file
        # metadata, ~1 ms) — the previous load_table(...).count() spent a
        # full Spark job + its ~100 ms action floor per query invocation
        # re-counting an immutable file (r17; the ADVICE's count-cache,
        # done one better: no state to invalidate)
        import os

        import pyarrow as pa
        import pyarrow.parquet as papq

        try:
            n = papq.read_metadata(
                os.path.join(sf_dir, "embeddings.parquet")
            ).num_rows
        except (OSError, pa.ArrowInvalid):
            # defensive: a future testdata generation shipping the table
            # as a parquet DIRECTORY falls back to the counted job
            n = load_table(spark, sf_dir, "embeddings").count()
        with bounded_iteration(spark, n):
            return fn(spark, sf_dir)

    return wrapper


QUERIES = {
    "embedding_jl_projection_audit": embedding_jl_projection_audit,
    "ann_opq_subspace_balance": ann_opq_subspace_balance,
    "mmr_diversified_retrieval": mmr_diversified_retrieval,
    "embedding_cluster_silhouette": embedding_cluster_silhouette,
    "embedding_snapshot_drift": embedding_snapshot_drift,
    "ann_knn_graph_ivf": ann_knn_graph_ivf,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    "ann_residual_pq_recall": ann_residual_pq_recall,
    "ann_sq8_recall": ann_sq8_recall,
    "ann_rrf_fusion": ann_rrf_fusion,
    "embedding_pca_power_iteration": embedding_pca_power_iteration,
    "embedding_pca_top2_deflation": embedding_pca_top2_deflation,
    "ann_pq_adc_recall": ann_pq_adc_recall,
    "ann_pq_refine_recall": ann_pq_refine_recall,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ndcg_eval": ann_ndcg_eval,
    "hybrid_bm25_dense_rrf": hybrid_bm25_dense_rrf,
    "dedup_semantic_ivf": dedup_semantic_ivf,
    "decontamination_semantic": decontamination_semantic,
    "ann_lsh_ml_topk": ann_lsh_ml_topk,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "embedding_label_centroids": embedding_label_centroids,
    "ann_truncated_recall": ann_truncated_recall,
    "ann_ivf_recall_sweep": ann_ivf_recall_sweep,
    "ann_ivf_incremental_assign": ann_ivf_incremental_assign,
}

#: queries that also scan a corpus-scale table (documents) — their heavy
#: first aggregates must keep full scan/shuffle parallelism, so they stay
#: outside the embeddings-sized pin.
_FULL_PARALLEL = {"hybrid_bm25_dense_rrf"}
# a typo here would silently pin a corpus-scale query to embeddings-sized
# partitions (r16 advice): fail at import instead
assert _FULL_PARALLEL <= QUERIES.keys(), _FULL_PARALLEL - QUERIES.keys()

QUERIES = {
    name: (fn if name in _FULL_PARALLEL else _bounded_embeddings(fn))
    for name, fn in QUERIES.items()
}

ORACLES = {
    "embedding_jl_projection_audit": _jl_sql(),
    "ann_opq_subspace_balance": _OPQ_SQL,
    "ann_pq_refine_recall": _PQ_REFINE_SQL,
    "decontamination_semantic": _DECON_SEMANTIC_SQL,
    "embedding_cluster_silhouette": _SILHOUETTE_SQL,
    "embedding_snapshot_drift": _SNAPSHOT_DRIFT_SQL,
    "ann_knn_graph_ivf": _KNN_GRAPH_SQL,
    "ann_ivf_pq_topk": _IVFPQ_SQL,
    "ann_residual_pq_recall": _RESIDUAL_PQ_SQL,
    "ann_sq8_recall": _SQ8_SQL,
    "ann_rrf_fusion": _RRF_SQL,
    "mmr_diversified_retrieval": _mmr_sql(),
    "embedding_pca_power_iteration": _PCA_SQL,
    "embedding_pca_top2_deflation": _PCA2_SQL,
    "ann_pq_adc_recall": _PQ_SQL,
    "ann_cosine_topk": _ANN_TOPK_SQL,
    "ann_ivf_topk": _ANN_IVF_SQL,
    "ann_ndcg_eval": _NDCG_SQL,
    "hybrid_bm25_dense_rrf": _hybrid_rrf_oracle(),
    "dedup_semantic_ivf": _SEMANTIC_DEDUP_SQL,
    "embedding_near_dup_pairs": _NEAR_DUP_SQL,
    "embedding_label_centroids": _CENTROIDS_SQL,
    "ann_truncated_recall": _TRUNC_RECALL_SQL,
    "ann_ivf_recall_sweep": _IVF_SWEEP_SQL,
    "ann_ivf_incremental_assign": _IVF_INCR_SQL,
}
