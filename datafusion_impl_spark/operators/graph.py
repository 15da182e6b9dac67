"""Near-duplicate cluster assignment: connected components over the
MinHash-LSH pair graph — the step that turns pairwise near-dup hits into
"keep one doc per cluster" decisions in a dedup pipeline.

Iterative algorithm, Spark-style: min-label propagation with path
compression (pointer jumping), iterated TO A FIXED POINT. Each round (a)
propagates the min label one hop along edges, then (b) compresses each
node's label to its label's label — so reachable distance DOUBLES per round
and ⌈log₂(diameter)⌉ rounds resolve any component. The loop stops when a
round changes no label (one count() per round over the bounded label table —
the standard iterate-and-check pattern; the count is against the same
checkpoint the next round needs anyway, so the extra driver action
costs one job over a tiny frame, never a corpus scan). A ``max_rounds``
backstop (default 16 ⇒ diameter 65536) bounds the loop on adversarial
graphs; hitting it raises rather than returning silently-truncated
components. The oracle computes the TRUE transitive closure with a
recursive CTE, double-checking convergence.

At 100 TB: each round is a shuffle keyed by doc_id over the *pair graph*
(bounded by near-dup volume, orders of magnitude smaller than the corpus);
log-diameter rounds via compression is exactly the large/small-star
connected-components recipe.

Every query here reads the pair graph through :func:`_pair_graph`, which
materializes it once. The four kernels (:func:`connected_components`,
:func:`kcore_edges`, :func:`pagerank`, :func:`label_propagation`) share one
input contract: the frame they are handed is a checkpoint or a cheap view
of one (:func:`_symmetric`), they never checkpoint it, and they materialize
only their per-round state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import (
    bounded_iteration as _bounded_iteration,
    materialize,
)
from datafusion_impl_spark.operators.dedup import (
    _CORPUS_SQL,
    _MINHASH_SQL,
    dedup_documents_minhash,
)

__all__ = ["QUERIES", "ORACLES", "connected_components", "label_propagation"]

_MAX_ROUNDS = 16


def _pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash near-dup pairs (``doc_a`` < ``doc_b``), materialized once:
    each graph query reads them more than once, and every read of the lazy
    frame would re-run the whole MinHash pipeline."""
    return materialize(dedup_documents_minhash(spark, sf_dir).select("doc_a", "doc_b"))


def _symmetric(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Both orientations of every pair as (``src``, ``dst``): a lazy explode
    that reads ``pairs`` in one scan."""
    return pairs.select(
        F.inline(
            F.array(
                F.struct(F.col("doc_a").alias(src), F.col("doc_b").alias(dst)),
                F.struct(F.col("doc_b").alias(src), F.col("doc_a").alias(dst)),
            )
        )
    )


def connected_components(pairs: DataFrame, max_rounds: int = _MAX_ROUNDS) -> DataFrame:
    """Min-label propagation with path compression over an undirected pair
    list (``doc_a``, ``doc_b``) → (``doc_id``, ``component``) where component
    is the minimum doc_id in the node's connected component (exact: iterated
    until no label changes; raises if ``max_rounds`` is hit first)."""
    edges = _symmetric(pairs)
    with _bounded_iteration(edges.sparkSession, edges.count()):
        labels = (
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
        )
        for _ in range(max_rounds):
            prev = labels
            # (a) one-hop propagation: each node also keeps its own label via
            # the union branch, so a single min-aggregate replaces
            # join+left-join.
            prop = edges.join(labels, edges.dst == labels.doc_id).select(
                F.col("src").alias("doc_id"), "label"
            )
            labels = (
                labels.unionByName(prop)
                .groupBy("doc_id")
                .agg(F.min("label").alias("label"))
            )
            labels = materialize(labels)
            # Fixed-point check BEFORE paying the compression join: if one-hop
            # propagation changed nothing, then for every edge (u,v)
            # label(u) = label(v), i.e. each component already shares one label
            # and compression would be the identity — return prev and skip the
            # final round's self-join + checkpoint entirely. Both sides are
            # bounded label tables, so this is one tiny join+count job.
            changed = (
                labels.select("doc_id", F.col("label").alias("new_label"))
                .join(prev, "doc_id")
                .filter(F.col("new_label") != F.col("label"))
                .count()
            )
            if changed == 0:
                return prev.select("doc_id", F.col("label").alias("component"))
            # (b) path compression: label ← label's label. Every label IS a
            # node id present in `labels` (it starts as self and only ever
            # moves to a reachable node's id), so the inner join always
            # matches, and the composed pointer doubles the effective reach of
            # the next round. `labels` feeds BOTH sides of the compression
            # join; it was materialized above, so the plan tree stays bounded
            # (without truncation each round would embed two copies of the
            # previous round's plan — 2^rounds subtree blowup). The label
            # table is bounded by the pair-graph node count — tiny relative
            # to the corpus — so this is the standard iterate-checkpoint
            # pattern.
            lmap = labels.select(
                F.col("doc_id").alias("m_id"), F.col("label").alias("m_label")
            )
            labels = labels.join(lmap, labels.label == F.col("m_id")).select(
                "doc_id", F.col("m_label").alias("label")
            )
            labels = materialize(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds "
        "(component diameter exceeds 2**max_rounds)"
    )


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs → connected components → cluster assignment
    (component id = minimum doc_id in the cluster, i.e. the canonical
    survivor an exact-keep-first policy would retain)."""
    return connected_components(_pair_graph(spark, sf_dir)).orderBy("doc_id")


# Oracle: true transitive closure of the same pair graph via recursive CTE.
_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(s, d) AS (
  SELECT s, s FROM edges
  UNION
  SELECT r.s, e.d
  FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS doc_id, MIN(d) AS component
FROM reach
GROUP BY s
ORDER BY doc_id
"""


def dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the near-dedup pipeline: per language, how many
    docs survive after dropping every non-canonical member of each near-dup
    cluster (survivor = the cluster's minimum doc_id). Composes the MinHash
    pair graph and connected components into the keep/drop decision a
    pipeline actually writes out."""
    from datafusion_impl_spark.operators.dedup import near_dup_corpus

    corpus = near_dup_corpus(spark, sf_dir).select("doc_id", "lang")
    comp = connected_components(_pair_graph(spark, sf_dir))
    dropped = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return (
        corpus.join(dropped, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_survivors"))
        .join(
            corpus.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")),
            "lang",
        )
        .select(
            "lang",
            "n_docs",
            "n_survivors",
            (F.col("n_docs") - F.col("n_survivors")).alias("n_dropped"),
        )
        .orderBy("lang")
    )


_NEAR_SURVIVORS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(s, d) AS (
  SELECT s, s FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (SELECT s AS doc_id, MIN(d) AS component FROM reach GROUP BY s),
dropped AS (SELECT doc_id FROM comp WHERE doc_id <> component),
corpus2 AS (SELECT doc_id, lang FROM ({_CORPUS_SQL}) c)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM dropped)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM dropped)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM corpus2
GROUP BY lang
ORDER BY lang
"""


#: k-core peeling: values of k audited, and the unrolled-round budget the
#: oracle replays (Spark peels to the TRUE fixpoint and raises if it takes
#: more rounds than the oracle unrolls — same honesty contract as
#: ``connected_components``' max_rounds).
_KCORE_KS = (2, 3)
_KCORE_ROUNDS = 8


def kcore_edges(spark: SparkSession, edges_sym: DataFrame, k: int,
                max_rounds: int = _KCORE_ROUNDS) -> DataFrame:
    """Peel the symmetric edge list to its k-core: repeatedly drop nodes
    with degree < k (and their edges) until a fixpoint. Returns the
    surviving symmetric edges. Each round is one groupBy + two semi-joins
    over the BOUNDED pair graph; the loop runs under the measured-size
    iteration-partition context like every fixed-point loop here."""
    edges, n_edges = edges_sym, edges_sym.count()
    with _bounded_iteration(spark, n_edges):
        for _ in range(max_rounds):
            keep = (
                edges.groupBy("s")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select("s")
            )
            nxt = materialize(
                edges.join(keep, "s", "left_semi")
                .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
                .select("s", "d")
            )
            n_nxt = nxt.count()
            if n_nxt == n_edges:
                return edges
            edges, n_edges = nxt, n_nxt
        # one verification round past the budget
        keep = (
            edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k).select("s")
        )
        n_final = (
            edges.join(keep, "s", "left_semi")
            .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
            .count()
        )
        if n_final != n_edges:  # pragma: no cover - adversarial graphs only
            raise RuntimeError(
                f"k-core (k={k}) not converged in {max_rounds} rounds"
            )
    return edges


def dedup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core census of the near-dup graph — the density audit that
    separates heavy duplication NESTS from incidental pairs: a doc in the
    k-core sits in a subgraph where everyone has >= k near-dup neighbors
    (near-clique copy farms, template floods), while chains and isolated
    pairs peel away. Reported per k: surviving node/edge counts and the
    count of dropped nodes — the triage signal for where aggressive
    cluster-collapse (vs pairwise survivorship) is warranted.

    Scale shape: peeling iterates on the bounded PAIR graph only (the
    corpus is never touched after candidate generation); each round is a
    degree count + two semi-joins, log-ish rounds on real graphs, with the
    same raise-don't-truncate convergence contract as components."""
    edges = _symmetric(_pair_graph(spark, sf_dir), "s", "d")
    n_nodes_total = edges.select("s").distinct().count()
    outs = []
    for k in _KCORE_KS:
        core = kcore_edges(spark, edges, k)
        stats = core.agg(
            F.count_distinct("s").cast("long").alias("n_core_nodes"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_core_edges"),
        ).select(
            F.lit(k).alias("k"),
            "n_core_nodes",
            "n_core_edges",
            (F.lit(n_nodes_total) - F.col("n_core_nodes"))
            .cast("long")
            .alias("n_peeled_nodes"),
        )
        outs.append(stats)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k")


def _kcore_oracle() -> str:
    def peel_chain(k: int, p: str) -> str:
        # every CTE is MATERIALIZED: each round references the previous
        # one twice, so default inlining would expand e0 2^rounds times
        # (observed as "too many open files" on the embedded parquet scan)
        ctes = [f"{p}e0 AS MATERIALIZED (SELECT s, d FROM edges)"]
        for i in range(1, _KCORE_ROUNDS + 1):
            ctes.append(
                f"{p}k{i} AS MATERIALIZED (SELECT s FROM {p}e{i-1} GROUP BY s"
                f" HAVING COUNT(*) >= {k})"
            )
            ctes.append(
                f"{p}e{i} AS MATERIALIZED (SELECT e.s, e.d FROM {p}e{i-1} e"
                f" JOIN {p}k{i} a ON e.s = a.s"
                f" JOIN {p}k{i} b ON e.d = b.s)"
            )
        return ",\n".join(ctes)

    last = f"e{_KCORE_ROUNDS}"
    per_k = "\nUNION ALL\n".join(
        f"""SELECT {k} AS k,
       COUNT(DISTINCT s) AS n_core_nodes,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_core_edges,
       (SELECT COUNT(DISTINCT s) FROM edges) - COUNT(DISTINCT s)
         AS n_peeled_nodes
FROM c{k}_{last}"""
        for k in _KCORE_KS
    )
    chains = ",\n".join(peel_chain(k, f"c{k}_") for k in _KCORE_KS)
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS MATERIALIZED (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
{chains}
SELECT CAST(k AS INTEGER) AS k,
       CAST(n_core_nodes AS BIGINT) AS n_core_nodes,
       n_core_edges,
       CAST(n_peeled_nodes AS BIGINT) AS n_peeled_nodes
FROM ({per_k})
ORDER BY k
"""


_KCORE_SQL = _kcore_oracle()


def split_group_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split — the leakage-proof version of
    ``corpus_split_assignment``: hashing doc_ids independently scatters
    near-duplicate documents across splits, so the eval set silently
    contains near-copies of training docs. Here the ring hashes the
    near-dup CLUSTER id (connected component of the MinHash pair graph;
    singletons hash their own doc_id), so every cluster lands wholly in
    one split — group k-fold, the standard fix. The output carries the
    proof: ``n_leaked_pairs`` counts near-dup pairs whose endpoints
    landed in different splits, and is zero BY CONSTRUCTION (any planted
    or organic near-dup pair shares a component, hence a bucket).

    Scale shape: components over the bounded pair graph (log-diameter
    rounds), one broadcast-size join of cluster ids back to the corpus,
    then the same md5 per-mille ring as every sampler here — partition-
    invariant, re-run-stable, and shared with the samplers so a sampled
    doc keeps its split."""
    from datafusion_impl_spark.operators.dedup import near_dup_corpus
    from datafusion_impl_spark.operators.sampling import (
        _TRAIN_END,
        _VAL_END,
        _bucket,
    )

    corpus = near_dup_corpus(spark, sf_dir).select("doc_id", "lang")
    pairs = _pair_graph(spark, sf_dir)
    comp = connected_components(pairs)
    grouped = corpus.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("grp"),
    )
    b = _bucket(F.col("grp"))
    split = (
        F.when(b < _TRAIN_END, "train")
        .when(b < _VAL_END, "val")
        .otherwise("test")
    )
    assigned = grouped.select("doc_id", "grp", split.alias("split"))
    leaked = (
        pairs.join(
            assigned.select(F.col("doc_id").alias("doc_a"),
                            F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            assigned.select(F.col("doc_id").alias("doc_b"),
                            F.col("split").alias("split_b")),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_leaked_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("grp").cast("long").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leaked))
        .orderBy("split")
    )


def _group_split_oracle() -> str:
    from datafusion_impl_spark.operators.sampling import (
        _TRAIN_END,
        _VAL_END,
        _duck_bucket,
    )

    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(s, d) AS (
  SELECT s, s FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (SELECT s AS doc_id, MIN(d) AS component FROM reach GROUP BY s),
corpus2 AS (SELECT doc_id FROM ({_CORPUS_SQL}) c),
grouped AS MATERIALIZED (
  SELECT c.doc_id, COALESCE(p.component, c.doc_id) AS grp
  FROM corpus2 c LEFT JOIN comp p ON c.doc_id = p.doc_id
),
assigned AS MATERIALIZED (
  SELECT doc_id, grp,
         CASE WHEN {_duck_bucket('grp')} < {_TRAIN_END} THEN 'train'
              WHEN {_duck_bucket('grp')} < {_VAL_END} THEN 'val'
              ELSE 'test' END AS split
  FROM grouped
),
leaked AS (
  SELECT COUNT(*) AS n_leaked_pairs
  FROM pairs p
  JOIN assigned a ON a.doc_id = p.doc_a
  JOIN assigned b ON b.doc_id = p.doc_b
  WHERE a.split <> b.split
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
       CAST((SELECT n_leaked_pairs FROM leaked) AS BIGINT) AS n_leaked_pairs
FROM assigned
GROUP BY split
ORDER BY split
"""


_GROUP_SPLIT_SQL = _group_split_oracle()


def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-adjusted corpus accounting — the number a training-data team
    actually reports: per language, raw token mass vs the mass surviving
    near-dup cluster collapse (keep the cluster-canonical doc, drop the
    rest), and the fraction of the token budget dedup buys back. Composes
    the MinHash pair graph, connected components, and whitespace token
    counts into one ledger: singleton docs keep their tokens; a cluster
    contributes only its canonical member's tokens.

    Scale shape: components over the bounded pair graph; token counts are
    a map-side ``size(split())`` projection aggregated per (lang) — the
    corpus text is scanned once and never shuffled (only the per-doc
    token COUNT moves)."""
    from datafusion_impl_spark.operators.dedup import near_dup_corpus
    from datafusion_impl_spark.operators.text import tokens

    corpus = near_dup_corpus(spark, sf_dir).select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    comp = connected_components(_pair_graph(spark, sf_dir))
    keep = corpus.join(comp, "doc_id", "left").withColumn(
        "survives",
        F.coalesce("component", "doc_id") == F.col("doc_id"),
    )
    return (
        keep.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("raw_tokens"),
            F.sum(F.when(F.col("survives"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("surviving_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "raw_tokens",
            "surviving_tokens",
            (F.col("raw_tokens") - F.col("surviving_tokens")).alias(
                "saved_tokens"
            ),
            # NULLIF guard (r9 div sweep): an all-empty-text language would
            # have raw_tokens = 0 — pin saved_frac to NULL in both engines
            F.round(
                (F.col("raw_tokens") - F.col("surviving_tokens"))
                / F.nullif(F.col("raw_tokens").cast("double"), F.lit(0.0)),
                6,
            ).alias("saved_frac"),
        )
        .orderBy("lang")
    )


def _token_savings_oracle() -> str:
    from datafusion_impl_spark.operators.text import _DUCK_TOKENS

    n_tok = f"CAST(len({_DUCK_TOKENS.format(col='text')}) AS BIGINT)"
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(s, d) AS (
  SELECT s, s FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
comp AS (SELECT s AS doc_id, MIN(d) AS component FROM reach GROUP BY s),
corpus2 AS (
  SELECT doc_id, lang, {n_tok} AS n_tok FROM ({_CORPUS_SQL}) c
),
keep AS (
  SELECT c.lang, c.n_tok,
         COALESCE(p.component, c.doc_id) = c.doc_id AS survives
  FROM corpus2 c LEFT JOIN comp p ON c.doc_id = p.doc_id
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
       CAST(SUM(CASE WHEN survives THEN n_tok ELSE 0 END) AS BIGINT)
         AS surviving_tokens,
       CAST(SUM(n_tok) - SUM(CASE WHEN survives THEN n_tok ELSE 0 END)
            AS BIGINT) AS saved_tokens,
       -- NULLIF mirrors the Spark side's empty-language guard
       ROUND(CAST(SUM(n_tok) - SUM(CASE WHEN survives THEN n_tok ELSE 0 END)
             AS DOUBLE) / NULLIF(CAST(SUM(n_tok) AS DOUBLE), 0), 6)
         AS saved_frac
FROM keep
GROUP BY lang
ORDER BY lang
"""


_TOKEN_SAVINGS_SQL = _token_savings_oracle()


_PR_DAMPING = 0.85
_PR_ITERS = 5


def pagerank(edges_sym: DataFrame, iters: int = _PR_ITERS,
             damping: float = _PR_DAMPING) -> DataFrame:
    """Fixed-iteration PageRank over a symmetric (``src``, ``dst``) edge
    list → (``doc_id``, ``degree``, ``rank``).

    Spark shape per iteration: one equi-join of the (``doc_id``,
    ``degree``, ``rank``) table with the edge list on ``src`` and one
    groupBy on ``dst`` — both keyed on the bounded pair graph (near-dup
    volume, not corpus volume). The groupBy also counts each node's
    in-edges, which on a symmetric graph is its degree, so the table carries
    the degree into the next round without a join. The iteration count is a
    fixed small constant, so the oracle can unroll the exact same recurrence
    as chained CTEs — no convergence test, no engine-specific stopping rule.
    A symmetric graph has no dangling nodes, so no teleport-mass correction
    term is needed."""
    with _bounded_iteration(edges_sym.sparkSession, edges_sym.count()):
        deg = edges_sym.groupBy(F.col("src").alias("doc_id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        # n (node count) is a driver scalar: one job over the bounded node
        # table, same pattern as connected_components' convergence count.
        n = deg.count()
        # div-safe: n = COUNT of pair-graph nodes, > 0 (planted dups
        # guarantee a non-empty graph); Python-side raise, not a NULL/inf
        ranks = deg.withColumn("rank", F.lit(1.0 / n))
        # div-safe: same n > 0 invariant as the rank seed above
        base = (1.0 - damping) / n
        for _ in range(iters):
            contrib = edges_sym.join(ranks, edges_sym.src == ranks.doc_id).select(
                # div-safe: degree >= 1 — a node enters the graph only with
                # at least one incident edge
                "dst", (F.col("rank") / F.col("degree")).alias("c")
            )
            ranks = materialize(
                contrib.groupBy(F.col("dst").alias("doc_id")).agg(
                    F.count(F.lit(1)).alias("degree"),
                    (F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank"),
                )
            )
    return ranks


def dedup_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality scores over the MinHash near-dup graph — the
    survivor-selection heuristic that keeps the most-connected member of
    each duplicate cluster as canonical (a doc near-duplicating many others
    is the template; the one-off variants hang off it). Output: every node
    of the pair graph with its degree and 5-iteration PageRank."""
    pr = pagerank(_symmetric(_pair_graph(spark, sf_dir)))
    return pr.select(
        "doc_id", "degree", F.round("rank", 6).alias("rank")
    ).orderBy("doc_id")


def _pagerank_oracle() -> str:
    """Unrolled power-iteration CTE chain mirroring :func:`pagerank` —
    identical recurrence, identical float constants (Python repr of the
    damping terms feeds both engines)."""
    d = _PR_DAMPING
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"r{i} AS (\n"
            f"  SELECT e.dst AS doc_id,\n"
            f"         -- div-safe: nn.n = COUNT of nodes > 0; e.deg >= 1\n"
            f"         {(1.0 - d)!r} / (SELECT n FROM nn)\n"
            f"           + {d!r} * SUM(r.rank / e.deg) AS rank\n"
            f"  FROM e JOIN r{i - 1} r ON r.doc_id = e.src\n"
            f"  GROUP BY e.dst\n"
            f")"
        )
    chain = ",\n".join(steps)
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
-- div-safe: nn.n = COUNT of graph nodes, > 0 on the planted-dup corpus
r0 AS (SELECT src AS doc_id, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
{chain}
SELECT r{_PR_ITERS}.doc_id,
       CAST(deg.deg AS BIGINT) AS degree,
       ROUND(r{_PR_ITERS}.rank, 6) AS rank
FROM r{_PR_ITERS} JOIN deg ON deg.src = r{_PR_ITERS}.doc_id
ORDER BY doc_id
"""


_PAGERANK_SQL = _pagerank_oracle()


_LPA_ITERS = 3


def label_propagation(edges_sym: DataFrame, iters: int = _LPA_ITERS) -> DataFrame:
    """Synchronous label propagation (community detection) over a symmetric
    (``src``, ``dst``) edge list → (``doc_id``, ``community``).

    Each of the fixed ``iters`` rounds re-labels every node with the label
    most frequent among its neighbors (tie → minimum label) — the
    deterministic variant of LPA: a fixed iteration count and a total
    tie-order make the result engine-replayable, so the oracle unrolls the
    exact recurrence as chained CTEs (no convergence race, the classic LPA
    non-determinism source). Per round: one equi-join of the label table
    with the edge list and one (src, label) count — both keyed on the
    bounded pair graph."""
    spark = edges_sym.sparkSession
    with _bounded_iteration(spark, edges_sym.count()):
        labels = (
            edges_sym.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
        )
        for _ in range(iters):
            votes = (
                edges_sym.join(labels, edges_sym.dst == labels.doc_id)
                .groupBy("src", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            # struct-max argmax (same (cnt desc, label asc) winner as the
            # rank-1 window it replaces): max cnt wins, ties resolve to the
            # max NEGATED label = the minimum label; aggregates map-side
            # instead of exchanging + sorting the vote table every round
            labels = materialize(
                votes.groupBy("src")
                .agg(
                    F.max(
                        F.struct(
                            F.col("cnt"),
                            (-F.col("label")).alias("nl"),
                            F.col("label"),
                        )
                    ).alias("mx")
                )
                .select(F.col("src").alias("doc_id"), F.col("mx.label").alias("label"))
            )
    return labels.select("doc_id", F.col("label").alias("community"))


def dedup_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community assignment of the MinHash near-dup graph via 3-round
    deterministic label propagation — the finer-grained alternative to
    connected components when borderline LSH edges chain unrelated docs
    together: LPA keeps densely-linked clone groups in one community while
    a thin bridge between two groups does not merge them."""
    return label_propagation(_symmetric(_pair_graph(spark, sf_dir))).orderBy("doc_id")


def dedup_community_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge audit over the LPA communities: per community, how many
    near-dup edges stay inside it vs cross to another community — the
    health check that says whether collapsing each community to one
    survivor is safe (high isolation) or whether thin bridges are chaining
    unrelated content (low isolation → tighten the LSH threshold before
    deduping). Composes :func:`label_propagation` with one edge⋈community
    join; a bridging edge counts toward BOTH endpoint communities."""
    pairs = _pair_graph(spark, sf_dir)
    comm = label_propagation(_symmetric(pairs))
    ca = comm.select(F.col("doc_id").alias("doc_a"), F.col("community").alias("c_a"))
    cb = comm.select(F.col("doc_id").alias("doc_b"), F.col("community").alias("c_b"))
    tagged = pairs.join(ca, "doc_a").join(cb, "doc_b")
    per_side = tagged.select(
        F.col("c_a").alias("community"), (F.col("c_a") == F.col("c_b")).alias("intra")
    ).unionByName(
        tagged.filter(F.col("c_a") != F.col("c_b")).select(
            F.col("c_b").alias("community"), F.lit(False).alias("intra")
        )
    )
    members = comm.groupBy("community").agg(F.count(F.lit(1)).alias("n_members"))
    stats = per_side.groupBy("community").agg(
        F.count_if(F.col("intra")).cast("long").alias("n_intra"),
        F.count_if(~F.col("intra")).cast("long").alias("n_bridge"),
    )
    return (
        members.join(stats, "community", "left")
        .select(
            "community",
            "n_members",
            F.coalesce("n_intra", F.lit(0).cast("long")).alias("n_intra"),
            F.coalesce("n_bridge", F.lit(0).cast("long")).alias("n_bridge"),
            F.round(
                F.coalesce("n_intra", F.lit(0).cast("long"))
                / F.greatest(
                    F.coalesce("n_intra", F.lit(0).cast("long"))
                    + F.coalesce("n_bridge", F.lit(0).cast("long")),
                    F.lit(1),
                ),
                6,
            ).alias("isolation"),
        )
        .orderBy("community")
    )


def _lpa_oracle() -> str:
    """Unrolled LPA recurrence mirroring :func:`label_propagation`."""
    steps = []
    for i in range(1, _LPA_ITERS + 1):
        steps.append(
            f"v{i} AS (\n"
            f"  SELECT e.src, l.label, COUNT(*) AS cnt\n"
            f"  FROM edges e JOIN l{i - 1} l ON e.dst = l.doc_id\n"
            f"  GROUP BY e.src, l.label\n"
            f"),\n"
            f"l{i} AS (\n"
            f"  SELECT src AS doc_id, label FROM (\n"
            f"    SELECT src, label,\n"
            f"           ROW_NUMBER() OVER (PARTITION BY src\n"
            f"                              ORDER BY cnt DESC, label) AS rn\n"
            f"    FROM v{i})\n"
            f"  WHERE rn = 1\n"
            f")"
        )
    chain = ",\n".join(steps)
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
l0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges),
{chain}"""


_LPA_SQL = _lpa_oracle() + f"""
SELECT doc_id, label AS community
FROM l{_LPA_ITERS}
ORDER BY doc_id
"""

_BRIDGES_SQL = _lpa_oracle() + f""",
tagged AS (
  SELECT p.doc_a, p.doc_b, la.label AS c_a, lb.label AS c_b
  FROM pairs p
  JOIN l{_LPA_ITERS} la ON p.doc_a = la.doc_id
  JOIN l{_LPA_ITERS} lb ON p.doc_b = lb.doc_id
),
per_side AS (
  SELECT c_a AS community, c_a = c_b AS intra FROM tagged
  UNION ALL
  SELECT c_b, FALSE FROM tagged WHERE c_a <> c_b
),
members AS (
  SELECT label AS community, COUNT(*) AS n_members
  FROM l{_LPA_ITERS} GROUP BY label
),
stats AS (
  SELECT community,
         CAST(count_if(intra) AS BIGINT) AS n_intra,
         CAST(count_if(NOT intra) AS BIGINT) AS n_bridge
  FROM per_side GROUP BY community
)
SELECT m.community, m.n_members,
       COALESCE(s.n_intra, 0) AS n_intra,
       COALESCE(s.n_bridge, 0) AS n_bridge,
       ROUND(COALESCE(s.n_intra, 0)
             / CAST(GREATEST(COALESCE(s.n_intra, 0)
                             + COALESCE(s.n_bridge, 0), 1) AS DOUBLE),
             6) AS isolation
FROM members m LEFT JOIN stats s USING (community)
ORDER BY m.community
"""


def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph — the structure audit that
    separates tight clone-cliques (high clustering) from chains of
    borderline matches (low clustering, risky to collapse transitively).
    Output is one row: nodes, edges, wedges (length-2 paths), triangles,
    and the global clustering coefficient 3·triangles / wedges.

    Scale shape: the classic two-equi-join triangle count over the
    CANONICALLY ORIENTED edge list (doc_a < doc_b, emitted that way by the
    LSH join) — each triangle {a<b<c} is found exactly once via
    e(a,b) ⋈ e(b,c) ⋈ e(a,c). Joins are equi-joins on node ids of the
    *bounded pair table* (near-dup volume, not corpus volume); wedge counts
    come from the symmetric degree table, sum of C(deg, 2). No step touches
    the corpus — this runs entirely on the dedup pipeline's output."""
    pairs = _pair_graph(spark, sf_dir)
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = _symmetric(pairs).groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedge = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        wedge.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULLIF guard (r9 div sweep): a wedge-free graph (no node with
            # degree >= 2) pins the coefficient to NULL in both engines
            F.round(
                3.0
                * F.col("n_triangles")
                / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


_TRIANGLE_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
deg AS (
  SELECT v, COUNT(*) AS deg
  FROM (SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY v
),
wedge AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
),
edges AS (SELECT COUNT(*) AS n_edges FROM pairs)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       -- NULLIF mirrors the Spark side's wedge-free guard
       ROUND(3.0 * n_triangles / NULLIF(CAST(n_wedges AS DOUBLE), 0), 6)
         AS clustering_coeff
FROM wedge, edges, tri
"""


# --------------------------------------------------------------------------
# Multi-source BFS: shortest-path distance profile from seed documents
# --------------------------------------------------------------------------

#: BFS horizon — distances beyond this are reported as unreached. Level-
#: synchronous rounds, so the loop is exactly this many bounded joins.
_BFS_ROUNDS = 4
#: seed selection: pair-graph nodes with doc_id % mod == 0.
_BFS_SEED_MOD = 10


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search over the near-dup graph: from every
    seed node (doc_id % {mod} = 0), the exact shortest-path distance to each
    reachable node within {r} hops — the "contamination radius" question a
    curation team asks when a bad document is found ("everything within 2
    near-dup hops gets re-reviewed"). Output: per distance level, the number
    of (seed, node) pairs at that shortest distance and the number of nodes
    whose NEAREST seed sits at that distance.

    Scale shape: level-synchronous BFS — {r} rounds of (frontier ⋈ edges)
    equi-joins on the BOUNDED pair graph, each followed by an anti-join
    against the visited set (so the frontier can only shrink toward the
    fringe) and a (seed, node) dedup aggregate; every round's state is
    materialized to keep lineage flat. The oracle replays the same
    horizon with a depth-bounded recursive CTE and takes MIN(d).

    No division anywhere; counts are exact integers."""
    edges = _symmetric(_pair_graph(spark, sf_dir), "s", "d")
    seeds = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .filter(F.col("node") % _BFS_SEED_MOD == 0)
    )
    dist = materialize(
        seeds.select(
            F.col("node").alias("seed"), F.col("node").alias("node"),
            F.lit(0).alias("dd"),
        )
    )
    frontier = dist
    for r in range(1, _BFS_ROUNDS + 1):
        nxt = materialize(
            frontier.join(edges, frontier["node"] == edges["s"])
            .select("seed", F.col("d").alias("node"), F.lit(r).alias("dd"))
            .join(dist.select("seed", "node"), ["seed", "node"], "left_anti")
            .groupBy("seed", "node")
            .agg(F.min("dd").alias("dd"))
        )
        dist = materialize(dist.unionByName(nxt))
        frontier = nxt
    node_min = dist.groupBy("node").agg(F.min("dd").alias("dmin"))
    per_pair = dist.groupBy("dd").agg(F.count(F.lit(1)).alias("n_pairs"))
    per_node = node_min.groupBy("dmin").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    return (
        per_pair.join(per_node, per_pair["dd"] == per_node["dmin"], "left")
        .select(
            F.col("dd").cast("int").alias("distance"),
            "n_pairs",
            F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
        )
        .orderBy("distance")
    )


graph_bfs_distances.__doc__ = graph_bfs_distances.__doc__.format(
    mod=_BFS_SEED_MOD, r=_BFS_ROUNDS
)

_BFS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_SQL}) minhash_pairs
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
seeds AS (
  SELECT DISTINCT s AS node FROM edges WHERE s % {_BFS_SEED_MOD} = 0
),
reach(seed, node, dd) AS (
  SELECT node, node, 0 FROM seeds
  UNION
  SELECT r.seed, e.d, r.dd + 1
  FROM reach r JOIN edges e ON e.s = r.node
  WHERE r.dd < {_BFS_ROUNDS}
),
sp AS (
  SELECT seed, node, MIN(dd) AS dd FROM reach GROUP BY seed, node
),
nm AS (SELECT node, MIN(dd) AS dmin FROM sp GROUP BY node),
pa AS (SELECT dd, COUNT(*) AS n_pairs FROM sp GROUP BY dd),
na AS (SELECT dmin AS dd, COUNT(*) AS n_nodes FROM nm GROUP BY dmin)
SELECT CAST(pa.dd AS INTEGER) AS distance, pa.n_pairs,
       COALESCE(na.n_nodes, 0) AS n_nodes
FROM pa LEFT JOIN na USING (dd)
ORDER BY distance
"""


QUERIES = {
    "dedup_graph_kcore": dedup_graph_kcore,
    "graph_bfs_distances": graph_bfs_distances,
    "dedup_token_savings": dedup_token_savings,
    "split_group_aware": split_group_aware,
    "dedup_label_communities": dedup_label_communities,
    "dedup_community_bridges": dedup_community_bridges,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_near_survivors": dedup_near_survivors,
    "dedup_pagerank_centrality": dedup_pagerank_centrality,
    "graph_triangle_stats": graph_triangle_stats,
}

ORACLES = {
    "dedup_graph_kcore": _KCORE_SQL,
    "graph_bfs_distances": _BFS_SQL,
    "dedup_token_savings": _TOKEN_SAVINGS_SQL,
    "split_group_aware": _GROUP_SPLIT_SQL,
    "dedup_label_communities": _LPA_SQL,
    "dedup_community_bridges": _BRIDGES_SQL,
    "dedup_cluster_components": _COMPONENTS_SQL,
    "dedup_near_survivors": _NEAR_SURVIVORS_SQL,
    "dedup_pagerank_centrality": _PAGERANK_SQL,
    "graph_triangle_stats": _TRIANGLE_SQL,
}
