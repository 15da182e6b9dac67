"""Structured-column operators: typed JSON / struct handling of
``events.props``.

The reference's tests only ever string-hack ``props`` with regexp
(mirrored in ``plans/regexp.py``); a real pipeline parses it ONCE into a
typed struct and lets Catalyst prune/push the rest — that is what these
operators do (``from_json`` is a JVM expression inside whole-stage codegen;
no Python anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]


def events_props_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse ``props`` into a typed struct and aggregate the extracted field:
    per event_type — count, sum/avg of k, nulls. One scan + one shuffle."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_k"),
        )
        .orderBy("event_type")
    )


_PROPS_STRUCT_SQL = """
WITH parsed AS (
  SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       ROUND(AVG(k), 4) AS avg_k,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k
FROM parsed
GROUP BY event_type
ORDER BY event_type
"""


def events_daily_k_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct + array composition: parse k, bucket it (k div 20), and build a
    per-event_type histogram as a sorted array of (bucket, n) structs —
    exercising from_json → groupBy → collect_list(struct) → sort_array, the
    typed-aggregation shape a feature store needs. Emitted flat (one row per
    bucket) so the oracle can value-check it."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.from_json("props", "k INT").getField("k")
    hist = (
        ev.select("event_type", F.floor(k / 20).cast("int").alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rolled = hist.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "n"))).alias("hist")
    )
    return rolled.select(
        "event_type", F.explode("hist").alias("h")
    ).select(
        "event_type",
        F.col("h.bucket").alias("bucket"),
        F.col("h.n").alias("n"),
    ).orderBy("event_type", "bucket")


_DAILY_HIST_SQL = """
WITH parsed AS (
  SELECT event_type,
         CAST(FLOOR(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) / 20.0) AS INTEGER) AS bucket
  FROM events
)
SELECT event_type, bucket, COUNT(*) AS n
FROM parsed
WHERE bucket IS NOT NULL
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


def props_kv_udtf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (§2.11 — ABSENT in the reference, a Spark 4 surface):
    one props JSON document in → N (key, value) rows out via a lateral
    join, aggregated per key. The UDTF is the table-function analogue of
    the reference's scalar-kernel contract (row in, rows out, typed output
    schema declared up front). Python-per-row is the cost of the shape —
    the input is pre-filtered (event_id % 20 = 0) and a production pipeline
    would prefer from_json (events_props_struct) when the schema is known."""
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, val string")
    class ParseProps:
        def eval(self, props):
            if props is None:
                return
            try:
                obj = json.loads(props)
            except ValueError:
                return
            if isinstance(obj, dict):
                for k, v in obj.items():
                    yield str(k), str(v)

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "props")
    )
    kv = ev.lateralJoin(ParseProps(F.col("props").outer()))
    return (
        kv.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("val").alias("n_distinct_vals"),
            F.sum(F.col("val").cast("long")).alias("sum_val"),
        )
        .orderBy("key")
    )


_PROPS_UDTF_SQL = """
WITH keys AS (
  SELECT unnest(json_keys(props)) AS key, props
  FROM events WHERE event_id % 20 = 0),
kv AS (
  SELECT key, json_extract_string(props, '$.' || key) AS val FROM keys)
SELECT key, COUNT(*) AS n_rows,
       COUNT(DISTINCT val) AS n_distinct_vals,
       CAST(SUM(TRY_CAST(val AS BIGINT)) AS BIGINT) AS sum_val
FROM kv
GROUP BY key
ORDER BY key
"""


def events_props_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-quality audit for semi-structured columns: every 11th event's
    ``props`` is truncated (deterministic corruption — the synthetic corpus
    is all-valid, so planting gives the auditor real positives AND exact
    negatives), then parsed in PERMISSIVE mode with a corrupt-record
    column. Per event_type: rows, malformed count, parsed-k sum — the report
    a pipeline uses to decide whether an upstream feed regressed. Parsing
    stays a JVM ``from_json`` in codegen; corruption handling adds no second
    scan."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "props")
    corrupted = F.when(
        F.col("event_id") % 11 == 0,
        F.substring("props", 1, F.length("props") - 2),
    ).otherwise(F.col("props"))
    parsed = ev.select(
        "event_type",
        F.from_json(
            corrupted,
            "k INT, _corrupt STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("p"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("p._corrupt").isNotNull().cast("long")).alias("n_malformed"),
            F.sum("p.k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


_MALFORMED_SQL = """
WITH corrupted AS (
  SELECT event_type,
         CASE WHEN event_id % 11 = 0
              THEN substr(props, 1, length(props) - 2)
              ELSE props END AS props
  FROM events)
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN NOT json_valid(props) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_malformed,
       CAST(SUM(CASE WHEN json_valid(props)
                     THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                     END) AS BIGINT) AS sum_k
FROM corrupted
GROUP BY event_type
ORDER BY event_type
"""


#: how many leading tokens the polymorphic UDTF widens into columns.
_POLY_N_TOKENS = 3


def udtf_polymorphic_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4): the output schema is computed at
    analysis time by a static ``analyze`` method from the constant argument
    — ``first_tokens(text, 3)`` materializes columns tok_0..tok_2, and
    changing the literal re-plans a different width with no code change.
    This is the table-function analogue of the reference's statically-typed
    scalar UDF contract (``src/regexp-extract.rs:29``): types are fixed per
    query, but derived from the call site.

    The aggregate hashes every emitted cell per language, so the oracle
    (list_extract in DuckDB) checks the full expansion, padding NULLs
    included. Python in the dataflow is the point here (the API under
    test); the production-path equivalent is a slice of ``split()``."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType

    try:
        from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult
    except ImportError:  # pragma: no cover - pyspark < 4
        raise NotImplementedError("polymorphic UDTF needs pyspark >= 4.0")

    class FirstTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"tok_{i}", StringType())
                        for i in range(n.value)
                    ]
                )
            )

        def eval(self, text, n):
            toks = (text or "").split()
            yield tuple(toks[i] if i < len(toks) else None for i in range(n))

    spark.udtf.register("first_tokens", udtf(FirstTokens))
    return spark.sql(f"""
SELECT d.lang,
       COUNT(*) AS n_docs,
       {", ".join(
           f"COUNT(t.tok_{i}) AS n_tok_{i}, "
           f"CAST(SUM(length(t.tok_{i})) AS BIGINT) AS len_tok_{i}"
           for i in range(_POLY_N_TOKENS)
       )}
FROM {{documents}} d, LATERAL first_tokens(d.text, {_POLY_N_TOKENS}) t
GROUP BY d.lang
ORDER BY d.lang
""", documents=load_table(spark, sf_dir, "documents"))


_POLY_UDTF_SQL = rf"""
WITH toks AS (
  SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
wide AS (
  SELECT lang,
         {", ".join(f"t[{i + 1}] AS tok_{i}" for i in range(_POLY_N_TOKENS))}
  FROM toks
)
SELECT lang, COUNT(*) AS n_docs,
       {", ".join(
           f"COUNT(tok_{i}) AS n_tok_{i}, "
           f"CAST(SUM(length(tok_{i})) AS BIGINT) AS len_tok_{i}"
           for i in range(_POLY_N_TOKENS)
       )}
FROM wide
GROUP BY lang
ORDER BY lang
"""


QUERIES = {
    "events_props_struct": events_props_struct,
    "events_daily_k_histogram": events_daily_k_histogram,
    "props_kv_udtf_stats": props_kv_udtf_stats,
    "udtf_polymorphic_tokens": udtf_polymorphic_tokens,
    "events_props_malformed_audit": events_props_malformed_audit,
}

ORACLES = {
    "events_props_malformed_audit": _MALFORMED_SQL,
    "events_props_struct": _PROPS_STRUCT_SQL,
    "events_daily_k_histogram": _DAILY_HIST_SQL,
    "props_kv_udtf_stats": _PROPS_UDTF_SQL,
    "udtf_polymorphic_tokens": _POLY_UDTF_SQL,
}
