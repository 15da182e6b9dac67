"""Relational breadth beyond the reference's own surface (SURVEY.md §2.4-§2.9
ABSENT rows): windows, grouping sets, set ops, pivot, top-k, scalar function
families, sessionization. Every query here is a built-in-only Catalyst plan —
no Python in the hot path — with a DuckDB oracle unless noted.

Cross-engine determinism notes (beyond plans/__init__ rules):
- double→int casts round in DuckDB but truncate in Spark → always FLOOR first;
- COUNT FILTER is 0 where Spark's pivot yields null → coalesce pivot cells;
- string aggregation is sorted before joining (collect order is
  partition-nondeterministic in any distributed engine);
- dayofweek/round() dialect mismatches are avoided outright.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import duck_md5_long, materialize
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]


def _dec(col: str):
    return F.col(col).cast("decimal(12,4)")


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — rank inside a hash-partitioned
    window; at scale this is one shuffle on o_custkey, no global sort."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_WINDOW_TOP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 3
"""


def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total (cumulative sum over a unique order)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total
FROM orders
"""


def window_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): microsecond gap between consecutive events per user."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    )


_WINDOW_GAPS_SQL = """
SELECT user_id, event_id,
       epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)) AS gap_us
FROM events
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >30-minute gap starts a new session; count sessions
    and events per user. Pure window composition — lag → gap flag → running
    sum — one shuffle on user_id, the classic scalable sessionizer."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_flag = F.when(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) > 30 * 60 * 1_000_000,
        1,
    ).otherwise(0)
    with_sess = ev.withColumn("new_sess", gap_flag).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        with_sess.groupBy("user_id")
        .agg(
            (F.max("sess_id") + 1).cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
  FROM gaps)
SELECT user_id, CAST(MAX(sess_id) + 1 AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM sess GROUP BY user_id ORDER BY user_id
"""


def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family (dense_rank / percent_rank /
    cume_dist / ntile / first_value / nth_value) over one partitioned
    window — top-5 orders per priority class. The ordering key
    (o_totalprice DESC, o_orderkey) is unique, so RANGE and ROWS default
    frames agree across engines. One shuffle on o_orderpriority."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.dense_rank().over(w).alias("drk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
            F.first_value(F.col("o_orderkey")).over(w).alias("top_key"),
            F.nth_value(F.col("o_orderkey"), 2).over(w).alias("second_key"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("o_orderpriority", "rn")
    )


_WINDOW_RANK_SQL = """
SELECT o_orderpriority, o_orderkey,
       CAST(rn AS INTEGER) AS rn,
       CAST(drk AS INTEGER) AS drk,
       pct_rank, cume,
       CAST(quartile AS INTEGER) AS quartile,
       top_key, second_key
FROM (
  SELECT o_orderpriority, o_orderkey,
         ROW_NUMBER() OVER w AS rn,
         DENSE_RANK() OVER w AS drk,
         ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
         ROUND(CUME_DIST() OVER w, 6) AS cume,
         NTILE(4) OVER w AS quartile,
         FIRST_VALUE(o_orderkey) OVER w AS top_key,
         NTH_VALUE(o_orderkey, 2) OVER w AS second_key
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey))
WHERE rn <= 5
ORDER BY o_orderpriority, rn
"""


def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): each part's size and retail price as
    (measure, value) rows — `DataFrame.unpivot`, the inverse of the pivot
    query. Map-side only: no shuffle, scales linearly."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("price"),
        )
    )
    return part.unpivot(
        ids="p_partkey", values=["size", "price"],
        variableColumnName="measure", valueColumnName="val",
    ).orderBy("p_partkey", "measure")


_UNPIVOT_SQL = """
SELECT p_partkey, measure, val
FROM (
  SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'price' AS measure, p_retailprice AS val FROM part)
WHERE p_partkey <= 200
ORDER BY p_partkey, measure
"""


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube
# --------------------------------------------------------------------------

def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("qty"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
        )
    )


_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS qty,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_GROUPING_SETS_BODY, events=load_table(spark, sf_dir, "events"))


_GROUPING_SETS_BODY = """
SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
       CAST(GROUPING(event_type) AS INT) AS g_type,
       CAST(GROUPING(CAST(ts AS DATE)) AS INT) AS g_day
FROM {events}
GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
"""

_GROUPING_SETS_SQL = _GROUPING_SETS_BODY.format(events="events")


# --------------------------------------------------------------------------
# Distinct / set operations / anti join / top-k
# --------------------------------------------------------------------------

def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .distinct()
        .orderBy("c_mktsegment")
    )


_DISTINCT_SQL = "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"


def _nations_with(spark, sf_dir, side: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    if side == "customer":
        keys = load_table(spark, sf_dir, "customer").select(
            F.col("c_nationkey").alias("k")
        )
    else:
        keys = load_table(spark, sf_dir, "supplier").select(
            F.col("s_nationkey").alias("k")
        )
    return nation.join(keys, nation.n_nationkey == F.col("k"), "left_semi").select(
        "n_name"
    )


def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations having both customers and suppliers (INTERSECT)."""
    return (
        _nations_with(spark, sf_dir, "customer")
        .intersect(_nations_with(spark, sf_dir, "supplier"))
        .orderBy("n_name")
    )


_SET_INTERSECT_SQL = """
SELECT n_name FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
INTERSECT
SELECT n_name FROM nation WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
ORDER BY n_name
"""


def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no suppliers (EXCEPT)."""
    return (
        _nations_with(spark, sf_dir, "customer")
        .subtract(_nations_with(spark, sf_dir, "supplier"))
        .orderBy("n_name")
    )


_SET_EXCEPT_SQL = """
SELECT n_name FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
EXCEPT
SELECT n_name FROM nation WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
ORDER BY n_name
"""


def set_intersect_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics — duplicates kept up to the minimum
    multiplicity on either side): order priorities seen in both 1996 and
    1997, one row per matched occurrence, counted per priority."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.year("o_orderdate").alias("y")
    )
    y96 = orders.filter(F.col("y") == 1996).select("o_orderpriority")
    y97 = orders.filter(F.col("y") == 1997).select("o_orderpriority")
    return (
        y96.intersectAll(y97)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .orderBy("o_orderpriority")
    )


_SET_INTERSECT_ALL_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_matched
FROM (
  SELECT o_orderpriority FROM orders WHERE YEAR(o_orderdate) = 1996
  INTERSECT ALL
  SELECT o_orderpriority FROM orders WHERE YEAR(o_orderdate) = 1997)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def set_except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference): 1996 order-priority occurrences
    surviving removal of one occurrence per 1997 match, counted."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.year("o_orderdate").alias("y")
    )
    y96 = orders.filter(F.col("y") == 1996).select("o_orderpriority")
    y97 = orders.filter(F.col("y") == 1997).select("o_orderpriority")
    return (
        y96.exceptAll(y97)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_left"))
        .orderBy("o_orderpriority")
    )


_SET_EXCEPT_ALL_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_left
FROM (
  SELECT o_orderpriority FROM orders WHERE YEAR(o_orderdate) = 1996
  EXCEPT ALL
  SELECT o_orderpriority FROM orders WHERE YEAR(o_orderdate) = 1997)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def set_union_order_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two branch projections + dedup via UNION semantics."""
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey"), F.lit("high").alias("bucket")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey"), F.lit("urgent").alias("bucket")
    )
    return hi.union(urgent).distinct()


_SET_UNION_SQL = """
SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 400000
UNION
SELECT o_orderkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_ANTI_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(15)
    )


_TOPK_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
"""


def min_price_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-style correlated-min: cheapest part(s) per brand, via agg + join back."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_name", "p_retailprice"
    )
    mins = part.groupBy(F.col("p_brand").alias("b")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        part.join(
            mins,
            (part.p_brand == mins.b) & (part.p_retailprice == mins.min_price),
        )
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_brand", "p_partkey")
    )


_MIN_PART_SQL = """
SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice
FROM part p
JOIN (SELECT p_brand, MIN(p_retailprice) AS min_price
      FROM part GROUP BY p_brand) m
  ON p.p_brand = m.p_brand AND p.p_retailprice = m.min_price
ORDER BY p.p_brand, p.p_partkey
"""


# --------------------------------------------------------------------------
# Pivot / conditional aggregation
# --------------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]


def pivot_segment_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey)
    piv = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
    )
    # Spark leaves empty pivot cells null; COUNT in the oracle yields 0.
    return piv.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in _STATUSES],
    ).orderBy("c_mktsegment")


_PIVOT_SQL = """
SELECT c_mktsegment,
       COUNT(*) FILTER (o_orderstatus = 'F') AS "F",
       COUNT(*) FILTER (o_orderstatus = 'O') AS "O",
       COUNT(*) FILTER (o_orderstatus = 'P') AS "P"
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Scalar function families (reference §2.9 'built-in when needed')
# --------------------------------------------------------------------------

def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("up"),
        F.lower("n_name").alias("lo"),
        F.length("n_name").alias("len"),
        F.substring("n_name", 1, 3).alias("pre3"),
        F.concat(F.col("n_name"), F.lit("_"), F.col("n_nationkey").cast("string")).alias("tagged"),
        F.regexp_replace(F.col("n_name"), "A", "@").alias("subbed"),
        F.trim(F.lpad("n_name", 12, "*")).alias("padded"),
        F.reverse("n_name").alias("rev"),
    ).orderBy("n_nationkey")


_SCALAR_STRING_SQL = """
SELECT n_nationkey,
       UPPER(n_name) AS up,
       LOWER(n_name) AS lo,
       CAST(LENGTH(n_name) AS INTEGER) AS len,
       SUBSTRING(n_name, 1, 3) AS pre3,
       n_name || '_' || CAST(n_nationkey AS VARCHAR) AS tagged,
       REGEXP_REPLACE(n_name, 'A', '@', 'g') AS subbed,
       TRIM(LPAD(n_name, 12, '*')) AS padded,
       REVERSE(n_name) AS rev
FROM nation ORDER BY n_nationkey
"""


def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_2002"),
    )


_SCALAR_DATE_SQL = """
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INTEGER) AS y,
       CAST(MONTH(o_orderdate) AS INTEGER) AS m,
       CAST(DAY(o_orderdate) AS INTEGER) AS d,
       CAST(QUARTER(o_orderdate) AS INTEGER) AS q,
       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
       CAST(DATE '2002-01-01' - CAST(o_orderdate AS DATE) AS INTEGER) AS days_to_2002
FROM orders
"""


def scalar_math_case_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math + CASE/CAST/modulo — the reference's USED expression surface
    (tests/regexp-tests.rs:78-83) over a real table."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return c.select(
        "c_custkey",
        F.abs("c_acctbal").alias("abs_bal"),
        F.floor("c_acctbal").cast("long").alias("floor_bal"),
        F.ceil("c_acctbal").cast("long").alias("ceil_bal"),
        F.sqrt(F.abs("c_acctbal")).alias("sqrt_bal"),
        (F.col("c_custkey") % 7).alias("mod7"),
        F.when(F.col("c_custkey") % 2 == 0, F.col("c_custkey").cast("string"))
        .otherwise(F.lit(None))
        .alias("even_key_str"),
        F.col("c_acctbal").cast("string").alias("bal_str"),
        F.sign("c_acctbal").cast("int").alias("sgn"),
    )


_SCALAR_MATH_SQL = """
SELECT c_custkey,
       ABS(c_acctbal) AS abs_bal,
       CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
       CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
       SQRT(ABS(c_acctbal)) AS sqrt_bal,
       c_custkey % 7 AS mod7,
       CASE WHEN c_custkey % 2 = 0 THEN CAST(c_custkey AS VARCHAR) ELSE NULL END
         AS even_key_str,
       CAST(c_acctbal AS VARCHAR) AS bal_str,
       CAST(SIGN(c_acctbal) AS INTEGER) AS sgn
FROM customer
"""


def scalar_try_error_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI error-safe scalar family (``try_cast`` / ``try_add`` /
    ``try_divide`` / ``try_element_at``): malformed input → NULL, never a
    query abort — the engine-level generalization of the reference's core
    contract (regexp errors → '', ``src/regexp-extract.rs:51-115``).
    Inline VALUES fixture (sf-independent by design): bad casts, date
    overflow days, bigint overflow, divide-by-zero, out-of-range index,
    NULL propagation."""
    rows = [
        (1, "123", 1, 0),
        (2, "abc", 9223372036854775807, 1),
        (3, "2023-02-30", 5, 2),
        (4, "2024-02-29", 10, -2),
        (5, " 42 ", -7, 0),
        (6, None, None, 3),
    ]
    df = spark.createDataFrame(rows, schema="id int, s string, a long, b long")
    return df.select(
        "id",
        "s",
        F.expr("try_cast(s AS int)").alias("as_int"),
        F.expr("try_cast(s AS date)").alias("as_date"),
        F.expr("try_cast(s AS double)").alias("as_double"),
        F.expr("try_add(a, 1L)").alias("a_plus_1"),
        F.expr("try_divide(a, b)").alias("a_div_b"),
        F.expr("try_element_at(array(a, b), 2)").alias("elem2"),
        F.expr("try_element_at(array(a, b), 9)").alias("elem9"),
    ).orderBy("id")


# DuckDB expresses the same semantics with TRY_CAST + explicit guards
# (divide-by-zero and bigint overflow are errors there, not NULLs; list
# indexing is natively NULL out of range).
_SCALAR_TRY_SQL = """
SELECT id, s,
       TRY_CAST(s AS INTEGER) AS as_int,
       TRY_CAST(s AS DATE) AS as_date,
       TRY_CAST(s AS DOUBLE) AS as_double,
       CASE WHEN a >= 9223372036854775807 THEN NULL ELSE a + 1 END AS a_plus_1,
       -- div-safe: the b = 0 branch is the explicit guard under test
       CASE WHEN b = 0 THEN NULL ELSE a / b END AS a_div_b,
       [a, b][2] AS elem2,
       [a, b][9] AS elem9
FROM (VALUES (1, '123', 1, 0),
             (2, 'abc', 9223372036854775807, 1),
             (3, '2023-02-30', 5, 2),
             (4, '2024-02-29', 10, -2),
             (5, ' 42 ', -7, 0),
             (6, NULL, NULL, 3)) AS t(id, s, a, b)
ORDER BY id
"""


def string_agg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: sort_array(collect_list) keeps the result
    deterministic under any partitioning."""
    nation = load_table(spark, sf_dir, "nation").select("n_regionkey", "n_name")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"))
        .orderBy("r_name")
    )


_STRING_AGG_SQL = """
SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis for a prospective join/aggregation key: hash
    ``user_id`` onto 32 partitions-worth of buckets (portable md5 ring, the
    repo's cross-engine stand-in for Spark's murmur3 hash partitioner) and
    report per-bucket row counts, shares, and the skew factor
    (bucket / perfectly-even) — the report that decides whether a key needs
    ``scale.salted_join`` BEFORE the job runs at 100 TB, for the cost of one
    count-only aggregate. The post-aggregate window ranks 32 bounded rows."""
    from datafusion_impl_spark.operators import md5_long

    ev = load_table(spark, sf_dir, "events").select("user_id")
    bucket = md5_long(F.col("user_id").cast("string")) % 32
    per = ev.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        per.select(
            "bucket",
            "n_rows",
            # div-safe: window SUM over group counts is >= 1 (both ratios)
            F.round(F.col("n_rows") / F.sum("n_rows").over(w), 6).alias("share"),
            F.round(
                F.col("n_rows") * 32 / F.sum("n_rows").over(w), 4
            ).alias("skew_factor"),
        )
        .orderBy("bucket")
    )


def _skew_oracle() -> str:
    h = duck_md5_long("CAST(user_id AS VARCHAR)")
    return f"""
WITH per AS (
  SELECT {h} % 32 AS bucket, COUNT(*) AS n_rows
  FROM events GROUP BY 1
)
SELECT bucket, n_rows,
       -- div-safe: window SUM over group counts is >= 1 (both ratios)
       ROUND(n_rows / SUM(n_rows) OVER (), 6) AS share,
       ROUND(n_rows * 32 / SUM(n_rows) OVER (), 4) AS skew_factor
FROM per
ORDER BY bucket
"""


_KEY_SKEW_SQL = _skew_oracle()


#: sequence mining: how many top paths the report surfaces.
_PATH_TOPK = 15


def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining one step beyond the bigram transition
    matrix: the top 3-step behavior paths per user stream (``lag`` twice
    over the per-user event order), with each path's share of all
    trigrams — the exploratory view that surfaces funnels nobody thought
    to define (``view>click>purchase`` emerging organically vs the
    predefined funnel query).

    One shuffle on user_id for the windows (both lags share one
    Exchange+Sort), one groupBy on the bounded path vocabulary (≤ |types|³
    keys at any scale), TakeOrdered for the top-k — never a global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("e1"),
            F.lag("event_type", 1).over(w).alias("e2"),
            F.col("event_type").alias("e3"),
        )
        .filter(F.col("e1").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "path",
            "n",
            # div-safe: t sums group counts >= 1
            F.round(F.col("n") / F.col("t"), 6).alias("share"),
        )
        .orderBy(F.desc("n"), "path")
        .limit(_PATH_TOPK)
    )


_TRIGRAM_PATHS_SQL = f"""
WITH seq AS (
  SELECT LAG(event_type, 2) OVER w AS e1,
         LAG(event_type, 1) OVER w AS e2,
         event_type AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT e1 || '>' || e2 || '>' || e3 AS path FROM seq WHERE e1 IS NOT NULL
),
counts AS (SELECT path, COUNT(*) AS n FROM paths GROUP BY path),
total AS (SELECT SUM(n) AS t FROM counts)
SELECT path, n,
       -- div-safe: t sums group counts >= 1
       ROUND(n / CAST((SELECT t FROM total) AS DOUBLE), 6) AS share
FROM counts
ORDER BY n DESC, path
LIMIT {_PATH_TOPK}
"""


#: numeric profiler: lineitem measure columns whose pairwise correlations
#: the matrix reports (cents-scaled integers so moments are DECIMAL-exact).
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric measures
    — the multi-column statistical profiler behind feature selection and
    anomaly triage ("price moves with quantity; discount is independent").

    Engine-portable by construction: instead of ``corr()`` (whose internal
    double accumulation is addition-order-dependent), ONE pass collects the
    full moment set (Σx, Σx², Σxy per pair) as DECIMAL sums of cents-scaled
    integers — exact, order-independent — and the correlation derives per
    OUTPUT ROW from identical exact moments in both engines:
    r = (n·Σxy − Σx·Σy) / √((n·Σx² − Σx²)(n·Σy² − Σy²)). The k² pair space
    is 6 rows; the scan is one map + one 1-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = {
        c: F.round(F.col(c) * 100).cast("long").cast("decimal(18,0)")
        for c in _CORR_COLS
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(cents[c]).alias(f"s_{c}"))
        aggs.append(
            F.sum((cents[c] * cents[c]).cast("decimal(38,0)")).alias(f"q_{c}")
        )
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum((cents[a] * cents[b]).cast("decimal(38,0)")).alias(f"p_{a}_{b}")
        )
    m = li.agg(*aggs)
    rows = []
    for a, b in pairs:
        num = (
            F.col("n") * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        ).cast("double")
        den_a = (
            F.col("n") * F.col(f"q_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        ).cast("double")
        den_b = (
            F.col("n") * F.col(f"q_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        ).cast("double")
        rows.append(
            m.select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                # NULLIF guard (r9 div sweep): a zero-variance column makes
                # the denominator 0 — pin r to NULL in both engines (and
                # clamp the double-cast variance product at 0 before sqrt)
                F.round(
                    num
                    / F.nullif(
                        F.sqrt(F.greatest(den_a * den_b, F.lit(0.0))),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("pearson_r"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("col_a", "col_b")


def _corr_matrix_oracle() -> str:
    cents = {
        c: f"CAST(CAST(ROUND({c} * 100, 0) AS BIGINT) AS DECIMAL(18,0))"
        for c in _CORR_COLS
    }
    sums = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM({cents[c]}) AS s_{c}")
        sums.append(f"SUM(CAST({cents[c]} * {cents[c]} AS DECIMAL(38,0))) AS q_{c}")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        sums.append(
            f"SUM(CAST({cents[a]} * {cents[b]} AS DECIMAL(38,0))) AS p_{a}_{b}"
        )
    selects = []
    for a, b in pairs:
        selects.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b,\n"
            f"  -- NULLIF + clamp mirror the Spark zero-variance guard\n"
            f"  ROUND(CAST(n * p_{a}_{b} - s_{a} * s_{b} AS DOUBLE)\n"
            f"        / NULLIF(SQRT(GREATEST(\n"
            f"            CAST(n * q_{a} - s_{a} * s_{a} AS DOUBLE)\n"
            f"            * CAST(n * q_{b} - s_{b} * s_{b} AS DOUBLE), 0)), 0),\n"
            f"        6)\n"
            f"    AS pearson_r FROM m"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH m AS (SELECT {", ".join(sums)} FROM lineitem)
{union}
ORDER BY col_a, col_b
"""


_CORR_MATRIX_SQL = _corr_matrix_oracle()


#: market-basket affinity: how many top pairs the audit surfaces.
_BASKET_TOPK = 20


def brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining at the BRAND grain: support and
    lift for brand pairs co-occurring in one order — the classic
    frequent-itemset workload, kept scale-safe by pairing at a bounded
    dimension (|brands|² pairs regardless of corpus size) instead of the
    raw part key (whose pair space explodes and whose supports starve).

    Plan: distinct (order, brand) baskets via one broadcast dim join, a
    self equi-join on the order key producing ordered pairs (brand_a <
    brand_b — each unordered pair counted once), then lift from exact
    integer counts: lift = n_ab·N / (n_a·n_b). Top pairs via a
    distributed TakeOrdered (sort feeding LIMIT), never a global sort."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
    )
    baskets = materialize(baskets)
    n_orders = baskets.select("l_orderkey").distinct().count()
    per_brand = baskets.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_brand")
    )
    a = baskets.select("l_orderkey", F.col("brand").alias("brand_a"))
    b = baskets.select("l_orderkey", F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    return (
        pairs.join(
            F.broadcast(per_brand.select(F.col("brand").alias("brand_a"),
                                         F.col("n_brand").alias("n_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(per_brand.select(F.col("brand").alias("brand_b"),
                                         F.col("n_brand").alias("n_b"))),
            "brand_b",
        )
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            # div-safe: n_orders = COUNT(*) of orders > 0 (plan-time
            # literal); n_a * n_b >= 1 — brand rows exist only with
            # at least one order
            F.round(F.col("n_pair") / F.lit(n_orders), 6).alias("support"),
            # div-safe: per-brand counts n_a, n_b are >= 1
            F.round(
                (F.col("n_pair") * F.lit(n_orders))
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(_BASKET_TOPK)
    )


_BRAND_LIFT_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
per_brand AS (SELECT brand, COUNT(*) AS n_brand FROM baskets GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b USING (l_orderkey)
  WHERE a.brand < b.brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_pair,
       -- div-safe: n_orders > 0; per-brand counts >= 1
       ROUND(n_pair / CAST((SELECT n FROM n_orders) AS DOUBLE), 6) AS support,
       ROUND(CAST(n_pair AS BIGINT) * (SELECT n FROM n_orders)
             / CAST(pa.n_brand * pb.n_brand AS DOUBLE), 6) AS lift
FROM pairs
JOIN per_brand pa ON pairs.brand_a = pa.brand
JOIN per_brand pb ON pairs.brand_b = pb.brand
ORDER BY lift DESC, brand_a, brand_b
LIMIT {_BASKET_TOPK}
"""


#: RFM segmentation: terciles per metric, $100 monetary buckets so the
#: by-value binning frame stays bounded.
_RFM_BINS = 3
_RFM_MONEY_BUCKET = 10_000  # cents


def _equal_freq_bin(df, col: str, n_bins: int):
    """(value → bin) mapping via the bounded by-value cumulative-count trick
    (same shape as doc_length_quantile_bins: aggregate per distinct value
    FIRST, then integer arithmetic over that bounded frame — never an
    NTILE global sort over the fact table). Ties share a bin by
    construction, making the assignment engine-independent."""
    by_val = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    return by_val.select(
        col,
        F.expr(
            f"(coalesce(sum(cnt) over (order by {col} rows between unbounded"
            f" preceding and 1 preceding), 0) * {n_bins})"
        )
        .cast("long")
        .alias("_num"),
        F.sum("cnt").over(w_all).alias("_den"),
    ).select(
        col,
        F.expr("_num div _den").cast("int").alias(f"{col}_bin"),
    )


def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic warehouse workload, built scale-safe: each metric's tercile
    boundary comes from the bounded by-value cumulative-count binning
    (recency values are bounded by the date range, frequency by max order
    count, monetary by $100 buckets), so no NTILE ever globally sorts the
    customer table. Output: the 27-cell segment census with per-cell
    averages from exact integer sums."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    maxd = orders.agg(F.max("day").alias("maxd"))
    per_cust = (
        orders.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("maxd"), F.col("day"))).alias("r"),
            F.count(F.lit(1)).cast("long").alias("f"),
            (F.floor(F.sum("cents") / _RFM_MONEY_BUCKET))
            .cast("long")
            .alias("m"),
        )
    )
    per_cust = materialize(per_cust)
    rb = _equal_freq_bin(per_cust, "r", _RFM_BINS)
    fb = _equal_freq_bin(per_cust, "f", _RFM_BINS)
    mb = _equal_freq_bin(per_cust, "m", _RFM_BINS)
    seg = (
        per_cust.join(F.broadcast(rb), "r")
        .join(F.broadcast(fb), "f")
        .join(F.broadcast(mb), "m")
    )
    return (
        seg.groupBy("r_bin", "f_bin", "m_bin")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # div-safe: COUNT of a GROUP BY group is >= 1 (all three)
            F.round(F.sum("r") / F.count(F.lit(1)), 4).alias("avg_recency_days"),
            F.round(F.sum("f") / F.count(F.lit(1)), 4).alias("avg_orders"),
            F.round(
                F.sum(F.col("m") * _RFM_MONEY_BUCKET / 100)
                / F.count(F.lit(1)),
                2,
            ).alias("avg_spend_dollars"),
        )
        .orderBy("r_bin", "f_bin", "m_bin")
    )


def _rfm_bin_cte(col: str) -> str:
    return f"""
  SELECT {col},
         CAST((COALESCE(SUM(cnt) OVER (ORDER BY {col} ROWS BETWEEN UNBOUNDED
                PRECEDING AND 1 PRECEDING), 0) * {_RFM_BINS})
              // (SUM(cnt) OVER ()) AS INTEGER) AS {col}_bin
  FROM (SELECT {col}, COUNT(*) AS cnt FROM per_cust GROUP BY {col})
"""


_RFM_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
maxd AS (SELECT MAX(day) AS maxd FROM o),
per_cust AS (
  SELECT o_custkey,
         MIN(DATE_DIFF('day', day, (SELECT maxd FROM maxd))) AS r,
         CAST(COUNT(*) AS BIGINT) AS f,
         CAST(FLOOR(SUM(cents) / {_RFM_MONEY_BUCKET}) AS BIGINT) AS m
  FROM o GROUP BY o_custkey
),
rb AS ({_rfm_bin_cte('r')}),
fb AS ({_rfm_bin_cte('f')}),
mb AS ({_rfm_bin_cte('m')}),
seg AS (
  SELECT p.*, rb.r_bin, fb.f_bin, mb.m_bin
  FROM per_cust p JOIN rb USING (r) JOIN fb USING (f) JOIN mb USING (m)
)
SELECT r_bin, f_bin, m_bin,
       COUNT(*) AS n_customers,
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1 (all three)
       ROUND(CAST(SUM(r) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_recency_days,
       ROUND(CAST(SUM(f) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_orders,
       ROUND(CAST(SUM(m * {_RFM_MONEY_BUCKET} / 100) AS BIGINT)
             / CAST(COUNT(*) AS DOUBLE), 2) AS avg_spend_dollars
FROM seg
GROUP BY r_bin, f_bin, m_bin
ORDER BY r_bin, f_bin, m_bin
"""


def salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted two-phase aggregation (scale.salted_groupby) on the
    driver-checked surface: per event_type count/sum/min/max of value.
    The oracle is a plain GROUP BY — salting must be semantically invisible."""
    from datafusion_impl_spark.scale import salted_groupby

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    out = salted_groupby(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "value"),
            "sum_value": ("sum", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        n_salts=16,
    )
    # sum of doubles depends on combine order → round like the stats family
    return out.select(
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("event_type")


_SALTED_STATS_SQL = """
SELECT event_type,
       COUNT(value) AS n_events,
       ROUND(SUM(value), 2) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def salted_join_event_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe salted equi-join (scale.salted_join) on the checked
    surface: events joined to customer on user_id, aggregated per market
    segment. The oracle is the PLAIN join — salting must be semantically
    invisible."""
    from datafusion_impl_spark.scale import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(ev, cust, "user_id", "c_custkey", n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


_SALTED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def scalar_array_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/struct scalar family (§2.9 'built-in when needed'): per-order
    line-number arrays with containment/extremum/indexing ops. Arrays are
    sorted on build so results are partition-order independent. The array
    itself is surfaced as a CSV string (array_join) because the driver's
    order-insensitive hasher cannot hash a raw array column (r4 red row:
    ``TypeError: unhashable type: 'list'``); the array semantics are still
    exercised by size/contains/element_at/max over the real array."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return (
        li.filter(F.col("l_orderkey") % 100 == 0)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_linenumber")).alias("lines"))
        .select(
            "l_orderkey",
            F.array_join(F.col("lines").cast("array<string>"), ",").alias(
                "lines_csv"
            ),
            F.size("lines").alias("n_lines"),
            F.array_contains("lines", 3).alias("has_line3"),
            F.element_at("lines", 1).alias("first_line"),
            F.element_at("lines", -1).alias("last_line"),
            F.array_max("lines").alias("max_line"),
        )
        .orderBy("l_orderkey")
    )


_SCALAR_ARRAY_SQL = """
SELECT l_orderkey,
       array_to_string(lines, ',') AS lines_csv,
       CAST(len(lines) AS INTEGER) AS n_lines,
       list_contains(lines, 3) AS has_line3,
       lines[1] AS first_line,
       lines[-1] AS last_line,
       list_max(lines) AS max_line
FROM (
  SELECT l_orderkey, list(l_linenumber ORDER BY l_linenumber) AS lines
  FROM lineitem
  WHERE l_orderkey % 100 = 0
  GROUP BY l_orderkey)
ORDER BY l_orderkey
"""


def udaf_geometric_mean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF (§2.11): per-event-type geometric mean of value via a
    GROUPED_AGG pandas UDF — the Arrow-batched aggregate-function contract
    (whole group's column in, one scalar out). The oracle computes the same
    statistic as exp(avg(ln(x))); both sides ROUND(…, 6). numpy's pairwise
    log-sum vs DuckDB's sequential AVG differ at ~1e-15 — far inside the
    rounding guard."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType given explicitly: this module uses `from __future__ import
    # annotations`, which stringifies type hints and defeats hint inference.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def gmean(v):
        return float(np.exp(np.log(v.to_numpy()).mean()))

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # a GROUPED_AGG pandas UDF cannot share an agg() with JVM aggregates —
    # the count comes from a separate (tiny, broadcast) aggregation.
    geo = ev.groupBy("event_type").agg(F.round(gmean("value"), 6).alias("geo_mean"))
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return geo.join(F.broadcast(cnt), "event_type").orderBy("event_type")


_UDAF_GMEAN_SQL = """
SELECT event_type, ROUND(EXP(AVG(LN(value))), 6) AS geo_mean,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def map_functions_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar family (§2.9): per order, a flag→count MAP built with
    map_from_entries(collect_list(struct)), then interrogated with
    size / element_at / map_keys / array_contains. The map is an
    intra-row structure — the oracle checks the extracted scalars against
    their direct SQL equivalents, proving the map round-trip is lossless."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    per_flag = (
        li.filter(F.col("l_orderkey") % 50 == 0)
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    mapped = per_flag.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_returnflag", "cnt")))
        ).alias("m")
    )
    return mapped.select(
        "l_orderkey",
        F.size("m").alias("n_flags"),
        F.coalesce(F.element_at("m", "A"), F.lit(0)).alias("a_cnt"),
        F.array_contains(F.map_keys("m"), "R").alias("has_r"),
        F.aggregate(
            F.map_values("m"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_lines"),
    ).orderBy("l_orderkey")


_MAP_FUNCS_SQL = """
SELECT l_orderkey,
       CAST(COUNT(DISTINCT l_returnflag) AS INTEGER) AS n_flags,
       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
       BOOL_OR(l_returnflag = 'R') AS has_r,
       COUNT(*) AS total_lines
FROM lineitem
WHERE l_orderkey % 50 = 0
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (gap filling): a generated day spine × the
    event-type dimension LEFT JOINed against daily aggregates, absent days
    zero-filled. The spine is bounded metadata (days × types), so the cross
    join is broadcast-tiny at any data scale; the fact side stays one
    groupBy shuffle. The day spine is derived from min/max(day) of the
    daily aggregate (not hardcoded), so it tracks regenerated testdata."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    daily = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(_dec("value")), 2).cast("double").alias("sv"),
    )
    days = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    return (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("sv", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


_GAPFILL_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sv
  FROM events GROUP BY 1, 2),
days AS (
  SELECT CAST(unnest(generate_series((SELECT MIN(day) FROM daily),
                                     (SELECT MAX(day) FROM daily),
                                     INTERVAL 1 DAY)) AS DATE) AS day),
types AS (SELECT DISTINCT event_type FROM events)
SELECT day, event_type, COALESCE(n, 0) AS n_events,
       COALESCE(sv, 0.0) AS sum_value
FROM days CROSS JOIN types
LEFT JOIN daily USING (day, event_type)
ORDER BY day, event_type
"""


def events_locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) imputation: values below 0.5
    are treated as sensor dropouts (→ NULL) and forward-filled from the
    user's last valid reading — ``last(..., ignorenulls=True)`` over an
    unbounded-preceding row frame. One shuffle on user_id; leading NULLs
    (no prior observation) stay NULL in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    masked = F.when(F.col("value") >= 0.5, F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(masked, 2).alias("masked"),
        F.round(F.last(masked, ignorenulls=True).over(w), 2).alias("filled"),
    ).orderBy("user_id", "event_id")


_LOCF_SQL = """
SELECT user_id, event_id,
       ROUND(CASE WHEN value >= 0.5 THEN value END, 2) AS masked,
       ROUND(LAST_VALUE(CASE WHEN value >= 0.5 THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             2) AS filled
FROM events
ORDER BY user_id, event_id
"""


def grouped_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per source: clip document lengths at the
    source's exact interpolated [p05, p95] and report raw vs clipped means
    plus the clip census — the outlier-taming transform applied before any
    mean-based mixture weighting (one mega-doc otherwise owns the average).

    Two passes over the bounded per-source aggregate: percentile bounds per
    source (broadcast back), then one clipped aggregate. Mean arithmetic
    runs on exact integer sums (lengths are longs; clipped values become
    doubles only at the bound, which both engines compute identically via
    linear interpolation), divided once at the end."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    bounds = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.05D)").alias("lo"),
        F.expr("percentile(n_chars, 0.95D)").alias("hi"),
    )
    clipped = docs.join(F.broadcast(bounds), "source").select(
        "source",
        "n_chars",
        F.least(F.greatest(F.col("n_chars").cast("double"), F.col("lo")), F.col("hi")).alias("w"),
        (F.col("n_chars") < F.col("lo")).cast("long").alias("clip_lo"),
        (F.col("n_chars") > F.col("hi")).cast("long").alias("clip_hi"),
    )
    return (
        clipped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # div-safe: COUNT of a GROUP BY group is >= 1 (both means)
            F.round(F.sum("n_chars") / F.count(F.lit(1)), 4).alias("raw_mean"),
            F.round(F.sum("w") / F.count(F.lit(1)), 4).alias("winsor_mean"),
            F.sum("clip_lo").alias("n_clip_lo"),
            F.sum("clip_hi").alias("n_clip_hi"),
        )
        .orderBy("source")
    )


_WINSOR_SQL = """
WITH bounds AS (
  SELECT source,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY source
),
clipped AS (
  SELECT d.source, d.n_chars,
         LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi) AS w,
         CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END AS clip_lo,
         CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END AS clip_hi
  FROM documents d JOIN bounds b USING (source)
)
SELECT source,
       COUNT(*) AS n_docs,
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1 (both means)
       ROUND(SUM(n_chars) / CAST(COUNT(*) AS DOUBLE), 4) AS raw_mean,
       ROUND(SUM(w) / COUNT(*), 4) AS winsor_mean,
       CAST(SUM(clip_lo) AS BIGINT) AS n_clip_lo,
       CAST(SUM(clip_hi) AS BIGINT) AS n_clip_hi
FROM clipped
GROUP BY source
ORDER BY source
"""


def rolling_revenue_event_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling Pearson correlation between two daily business series
    (order revenue and event volume) — the ops question "do these metrics
    still move together?" as a windowed aggregate. ``corr`` runs as a
    window function over the bounded joined daily frame; inputs are exact
    integers (cents / counts) so the correlation's internal sums are exact
    and the statistic is engine-portable after ROUND. Days with fewer than
    14 predecessors report NULL (declared warm-up), identically in both
    engines via a row-count gate; zero-variance windows also report NULL via
    a min≠max gate on both series (r4 ADVICE: Spark's corr yields NaN there
    while DuckDB yields NULL, so without the gate the engines diverge)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    rev = o.groupBy("day").agg(F.sum("cents").alias("rev_cents"))
    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    j = rev.join(ev, "day")
    w = Window.orderBy("day").rowsBetween(-13, 0)
    gated = F.when(
        (F.count(F.lit(1)).over(w) == 14)
        & (F.min("rev_cents").over(w) != F.max("rev_cents").over(w))
        & (F.min("n_events").over(w) != F.max("n_events").over(w)),
        F.corr(F.col("rev_cents").cast("double"), F.col("n_events").cast("double")).over(w),
    )
    return (
        j.select(
            "day",
            F.col("rev_cents").cast("long").alias("rev_cents"),
            "n_events",
            F.round(gated, 6).alias("corr_14d"),
        )
        .orderBy("day")
    )


_ROLLCORR_SQL = """
WITH rev AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY 1
),
ev AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events FROM events GROUP BY 1
),
j AS (SELECT rev.day, rev_cents, n_events FROM rev JOIN ev USING (day))
SELECT day,
       CAST(rev_cents AS BIGINT) AS rev_cents,
       n_events,
       ROUND(CASE WHEN COUNT(*) OVER w14 = 14
                   AND MIN(rev_cents) OVER w14 <> MAX(rev_cents) OVER w14
                   AND MIN(n_events) OVER w14 <> MAX(n_events) OVER w14
                  THEN corr(CAST(rev_cents AS DOUBLE), CAST(n_events AS DOUBLE))
                       OVER w14
             END, 6) AS corr_14d
FROM j
WINDOW w14 AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
ORDER BY day
"""


def events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time interpolation — the missing sibling of gap-fill (zeros)
    and LOCF (step function): absent days get the straight line between the
    surrounding observations, the standard resampling for continuous
    metrics. Days with day-of-month ≡ 3 (mod 7) are synthetically dropped so
    the operator always has real gaps to fill at any SF.

    Plan shape: the daily aggregate bounds the series to the calendar before
    any window runs — the prev/next scans (``last/first ignorenulls`` over
    unbounded frames) operate on ~40 calendar rows of metadata, never on raw
    events; at 100 TB the same plan holds with the series keyed per metric
    (add the key to the partitionBy). The calendar spine is derived from
    min/max(day) of the daily aggregate (a 1-row agg exploded into the day
    sequence — no collect, no hardcoded dates), so it tracks whatever date
    range the regenerated testdata carries (r4 ADVICE: a hardcoded spine
    silently degenerates if the events range drifts)."""
    ev = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    obs = daily.filter(F.dayofmonth("day") % 7 != 3)
    spine = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    g = spine.join(obs, "day", "left")
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("n").isNotNull(), F.col("day"))
    g = g.select(
        "day",
        "n",
        F.last("n", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("n", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
    )
    # div-safe: frac is consumed only on gap rows (n IS NULL), where the
    # previous and next OBSERVED days straddle the gap: nd > pd
    frac = F.datediff("day", "pd") / F.datediff("nd", "pd")
    interp = (
        F.when(F.col("n").isNotNull(), F.col("n").cast("double"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .otherwise(F.coalesce("pv", "nv").cast("double"))
    )
    return g.select(
        "day",
        F.col("n").isNotNull().alias("observed"),
        F.round(interp, 4).alias("value"),
    ).orderBy("day")


_INTERP_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
),
obs AS (SELECT * FROM daily WHERE dayofmonth(day) % 7 <> 3),
spine AS (
  SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
                                (SELECT MAX(day) FROM daily),
                                INTERVAL 1 DAY))::DATE AS day
),
g AS (
  SELECT s.day, o.n,
         LAST_VALUE(o.n IGNORE NULLS) OVER (ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         LAST_VALUE(CASE WHEN o.n IS NOT NULL THEN s.day END IGNORE NULLS)
             OVER (ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         FIRST_VALUE(o.n IGNORE NULLS) OVER (ORDER BY s.day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN o.n IS NOT NULL THEN s.day END IGNORE NULLS)
             OVER (ORDER BY s.day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM spine s LEFT JOIN obs o USING (day)
)
SELECT day,
       n IS NOT NULL AS observed,
       ROUND(CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) * (date_diff('day', pd, day)
                  -- div-safe: nd > pd on interpolated (gap) rows
                                           / CAST(date_diff('day', pd, nd) AS DOUBLE))
                  ELSE CAST(COALESCE(pv, nv) AS DOUBLE) END,
             4) AS value
FROM g
ORDER BY day
"""


def grouped_zscore_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas transform (§2.11 UDAF/grouped surface):
    per-language z-score of document length via ``applyInPandas`` — the
    Arrow-batched grouped-map path (one shuffle on lang, each group hits
    the Python worker once as a whole Arrow batch, never row-at-a-time).
    The z-scores are ROUND(…, 6)ed so the float64 summation-order delta
    between pandas (pairwise) and the oracle (sequential) cannot surface."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def _z(pdf: "pd.DataFrame") -> "pd.DataFrame":
        s = pdf["n_chars"].std(ddof=0)
        if s > 0:
            # div-safe: the s > 0 branch is the explicit guard
            z = (pdf["n_chars"] - pdf["n_chars"].mean()) / s
        else:
            z = pdf["n_chars"] * 0.0
        return pdf.assign(z=z.round(6))

    return (
        docs.groupBy("lang")
        .applyInPandas(_z, "doc_id long, lang string, n_chars long, z double")
        .orderBy("doc_id")
    )


_GROUPED_ZSCORE_SQL = """
SELECT doc_id, lang, n_chars,
       ROUND(CASE WHEN stddev_pop(n_chars) OVER (PARTITION BY lang) > 0
                  -- div-safe: the CASE arm is the explicit guard
                  THEN (n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                       / stddev_pop(n_chars) OVER (PARTITION BY lang)
                  ELSE 0.0 END, 6) AS z
FROM documents
ORDER BY doc_id
"""


def higher_order_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lambda higher-order-function family (transform / filter / exists
    / forall / aggregate) over the embeddings vectors — all JVM-side Catalyst
    expressions, no UDF. Folds are sequential left-to-right with a 0.0 seed;
    the oracle reproduces them bit-for-bit via list_prepend + list_reduce
    (ROUND 6 guards the last bit). Map-side only — no shuffle."""
    v = F.col("v")
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 7 == 0)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    return emb.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.exists(v, lambda x: x > 2.0).alias("any_big"),
        F.forall(v, lambda x: F.abs(x) < 3.0).alias("all_small"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x), 6
        ).alias("sum_sq"),
        F.round(
            F.aggregate(
                F.transform(v, lambda x: F.when(x > 0, x).otherwise(F.lit(0.0))),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("pos_sum"),
    ).orderBy("vec_id")


_HIGHER_ORDER_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 7 = 0)
SELECT vec_id,
       CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
       len(list_filter(v, x -> x > 2.0)) > 0 AS any_big,
       len(list_filter(v, x -> NOT (abs(x) < 3.0))) = 0 AS all_small,
       ROUND(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                         (a, x) -> a + x), 6) AS sum_sq,
       ROUND(list_reduce(list_prepend(0.0, list_transform(v,
                           x -> CASE WHEN x > 0 THEN x ELSE 0.0 END)),
                         (a, x) -> a + x), 6) AS pos_sum
FROM e
ORDER BY vec_id
"""


def scalar_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance/correlation/exact
    median per return flag, rounded to absorb summation-order float noise
    (partial aggregation merges in different orders across engines)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        )
        .orderBy("l_returnflag")
    )


_SCALAR_STATS_SQL = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
       ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qp,
       ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS median_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# Approximate aggregates (rows-only: sketch internals differ per engine)
# --------------------------------------------------------------------------

def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("median_price"),
    )


# --------------------------------------------------------------------------
# Hypertable-style time rollup / column profiler / exact percentiles
# --------------------------------------------------------------------------

def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time-bucket rollup (the timescale "continuous
    aggregate" shape): one GROUPING SETS pass emits BOTH the hourly and the
    daily aggregate — at 100 TB a single scan feeds every granularity
    instead of one scan per rollup level, and partial aggregation runs
    map-side before the one shuffle."""
    return spark.sql(_TIME_ROLLUP_BODY, events=load_table(spark, sf_dir, "events"))


_TIME_ROLLUP_BODY = """
SELECT CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 4) AS sum_value,
       CAST(GROUPING(date_trunc('hour', ts)) AS INT) AS g_hour
FROM {events}
GROUP BY GROUPING SETS (
    (CAST(ts AS DATE)),
    (CAST(ts AS DATE), date_trunc('hour', ts)))
"""

_TIME_ROLLUP_SQL = _TIME_ROLLUP_BODY.format(events="events")


#: (column, kind) spec shared by the Spark profiler and its oracle builder.
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderdate", "date"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
]


def _profile_norm(c: str, kind: str) -> str:
    """Portable min/max rendering: numerics via DECIMAL(18,2) (identical
    '1.00'-style strings in Spark and DuckDB — raw double→string formatting
    diverges), temporals via DATE, strings as-is."""
    if kind == "num":
        return f"CAST(CAST(ROUND({{agg}}({c}), 2) AS DECIMAL(18,2)) AS STRING)"
    if kind == "date":
        return f"CAST(CAST({{agg}}({c}) AS DATE) AS STRING)"
    return f"{{agg}}({c})"


def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style single-pass column profiler over ``orders``: per column,
    null count, distinct count, normalized min/max — the data-quality gate a
    pipeline runs before training ingestion. ONE aggregate scans the table
    once (Catalyst plans multi-distinct via Expand, still a single pass);
    ``stack`` then pivots the metric row long — no per-column re-scan, which
    is the difference between 1× and 6× table reads at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        norm = _profile_norm(c, kind)
        metrics += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.expr(norm.format(agg="MIN")).alias(f"mn_{c}"),
            F.expr(norm.format(agg="MAX")).alias(f"mx_{c}"),
        ]
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c, _ in _PROFILE_COLS
    )
    return (
        o.agg(*metrics)
        .select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack}) AS "
                "(column_name, n_null, n_distinct, min_val, max_val)"
            ),
            "n_rows",
        )
        .select("column_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val")
        .orderBy("column_name")
    )


def _profile_oracle() -> str:
    per_col = []
    for c, kind in _PROFILE_COLS:
        norm = _profile_norm(c, kind).replace(" AS STRING)", " AS VARCHAR)")
        per_col.append(
            f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows,\n"
            f"       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {norm.format(agg='MIN')} AS min_val,\n"
            f"       {norm.format(agg='MAX')} AS max_val\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(per_col) + "\nORDER BY column_name"


def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75/p90/p99) of order value
    per priority — Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share linear-interpolation semantics, so the comparison is exact after
    the repo's standard ROUND(…, 4). At 100 TB swap in
    ``percentile_approx`` (bounded-memory sketch, already covered by
    ``approx_distinct_parts``-style tolerance tests); the exact form here
    keeps the oracle byte-comparable."""
    o = load_table(spark, sf_dir, "orders")
    qs = o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))"
        ).alias("qs")
    )
    return (
        qs.select("o_orderpriority", F.posexplode("qs").alias("pos", "q"))
        .select(
            "o_orderpriority",
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.round("q", 4).alias("price_q"),
        )
        .orderBy("o_orderpriority", "pos")
    )


_PERCENTILES_SQL = """
SELECT o_orderpriority,
       CAST(generate_subscripts(qs, 1) AS BIGINT) AS pos,
       ROUND(unnest(qs), 4) AS price_q
FROM (SELECT o_orderpriority,
             quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.9, 0.99]) AS qs
      FROM orders GROUP BY o_orderpriority)
ORDER BY o_orderpriority, pos
"""


# --------------------------------------------------------------------------
# Sketch-based join-cardinality estimation (AMS/CMS inner product)
# --------------------------------------------------------------------------

#: CMS geometry for the join-size estimator (depth x width counters/side).
_JCARD_D = 4
_JCARD_W = 1024


def sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION FROM SKETCHES — the optimizer-statistics move
    (AMS/CMS inner product, Alon-Gilbert-Matias-Szegedy): the size of
    ``orders ⋈ lineitem`` on orderkey is the inner product of the two
    key-frequency vectors, and the DOT PRODUCT OF THEIR COUNT-MIN ROWS
    never underestimates it — so ``min`` over the {d} independent rows is
    a one-pass, mergeable, 4 KB-per-side estimate of a join neither side
    ever executes. The same sketch estimates lineitem's self-join size
    (F2, the skew signal cost models use). Output: both estimates next to
    the exact sizes with relative errors — all integer arithmetic, so the
    oracle is bit-exact.

    Scale shape: one pass per side building {d}x{w} counters (map-side
    combinable), a {d}x{w} equi-join for the dot product, and a 1-row
    output; the EXACT columns are the audit (the whole point at 100 TB is
    to never run that join just to plan it)."""
    from datafusion_impl_spark.operators import md5_long

    o_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    l_keys = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )

    def cms(keys: DataFrame) -> DataFrame:
        # collapse to per-key counts FIRST: the d-way explode and the md5
        # hashing then run over distinct keys, not raw rows (4-8x less
        # hash work on lineitem; bucket counts are identical because a
        # bucket's count is the sum of its keys' counts)
        per_key = keys.groupBy("k").agg(F.count(F.lit(1)).alias("kc"))
        d = F.explode(
            F.array(*[F.lit(i) for i in range(_JCARD_D)])
        ).alias("d")
        rows = per_key.select("k", "kc", d)
        bucket = (
            md5_long(F.concat_ws("#", F.col("k"), F.col("d"))) % _JCARD_W
        )
        return rows.select("d", bucket.alias("w"), "kc").groupBy(
            "d", "w"
        ).agg(F.sum("kc").alias("c"))
    cms_o = cms(o_keys)
    cms_l = cms(l_keys)
    dot = (
        cms_o.join(
            cms_l.select("d", "w", F.col("c").alias("c2")), ["d", "w"]
        )
        .groupBy("d")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("dp"))
        .agg(F.min("dp").alias("join_est"))
    )
    f2 = (
        cms_l.groupBy("d")
        .agg(F.sum(F.col("c") * F.col("c")).alias("dp"))
        .agg(F.min("dp").alias("f2_est"))
    )
    exact_join = (
        o_keys.join(l_keys, "k").agg(F.count(F.lit(1)).alias("join_exact"))
    )
    exact_f2 = (
        l_keys.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2_exact"))
    )
    # div-safe (both): exact join/self-join sizes >= 1 (every order has
    # lineitems in the TPC-H-ish generator; F2 >= n_rows >= 1)
    return (
        dot.crossJoin(F.broadcast(f2))
        .crossJoin(F.broadcast(exact_join))
        .crossJoin(F.broadcast(exact_f2))
        .select(
            F.col("join_exact").cast("long").alias("join_exact"),
            F.col("join_est").cast("long").alias("join_est"),
            F.round(
                # div-safe: exact join size >= 1 (generator contract)
                (F.col("join_est") - F.col("join_exact"))
                / F.col("join_exact").cast("double"),
                6,
            ).alias("join_rel_overest"),
            F.col("f2_exact").cast("long").alias("f2_exact"),
            F.col("f2_est").cast("long").alias("f2_est"),
            F.round(
                # div-safe: F2 >= n_rows >= 1
                (F.col("f2_est") - F.col("f2_exact"))
                / F.col("f2_exact").cast("double"),
                6,
            ).alias("f2_rel_overest"),
        )
    )


def _jcard_oracle() -> str:
    bucket = duck_md5_long("CAST(k AS VARCHAR) || '#' || CAST(d AS VARCHAR)")
    return f"""
WITH ds AS (SELECT unnest(generate_series(0, {_JCARD_D - 1})) AS d),
cms_o AS (
  SELECT d, {bucket} % {_JCARD_W} AS w, COUNT(*) AS c
  FROM (SELECT o_orderkey AS k FROM orders), ds
  GROUP BY 1, 2
),
cms_l AS (
  SELECT d, {bucket} % {_JCARD_W} AS w, COUNT(*) AS c
  FROM (SELECT l_orderkey AS k FROM lineitem), ds
  GROUP BY 1, 2
),
dot AS (
  SELECT MIN(dp) AS join_est FROM (
    SELECT a.d, SUM(a.c * b.c) AS dp
    FROM cms_o a JOIN cms_l b ON a.d = b.d AND a.w = b.w
    GROUP BY a.d)
),
f2 AS (
  SELECT MIN(dp) AS f2_est FROM (
    SELECT d, SUM(c * c) AS dp FROM cms_l GROUP BY d)
),
xj AS (
  SELECT COUNT(*) AS join_exact
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
xf AS (
  SELECT SUM(c * c) AS f2_exact FROM (
    SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)
)
SELECT CAST(join_exact AS BIGINT) AS join_exact,
       CAST(join_est AS BIGINT) AS join_est,
       -- div-safe: exact join size >= 1 (generator contract)
       ROUND((join_est - join_exact) / CAST(join_exact AS DOUBLE), 6)
         AS join_rel_overest,
       CAST(f2_exact AS BIGINT) AS f2_exact,
       CAST(f2_est AS BIGINT) AS f2_est,
       -- div-safe: F2 >= n_rows >= 1
       ROUND((f2_est - f2_exact) / CAST(f2_exact AS DOUBLE), 6)
         AS f2_rel_overest
FROM dot, f2, xj, xf
"""


# --------------------------------------------------------------------------
# Mergeable quantile-histogram sketch (the 4th sketch family: quantiles)
# --------------------------------------------------------------------------

#: histogram resolution (bins). 512 counters ≈ 4 KB per merge unit.
_QHIST_NB = 512
#: quantiles estimated from the sketch.
_QHIST_QS = (0.5, 0.9, 0.99)


def sketch_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE QUANTILE SKETCH — the fourth estimator family next to HLL
    (cardinality), Bloom (membership) and bottom-k (distinct sample): a
    {nb}-bin equi-width histogram over integer price cents whose per-bin
    counts are a plain distributive aggregate (map-side combine, any merge
    tree — the property KLL/t-digest are used for at 100 TB, in the
    simplest shape that stays bit-portable across engines: bin indices are
    PURE INTEGER arithmetic, so no float boundary can disagree). Per
    target quantile: the crossing bin, the midpoint estimate, the exact
    interpolated percentile as the audit column, the absolute error, and
    the bin width (the error is provably within ~one bin width).

    Scale shape: one min/max pass, one 512-group aggregate, a window over
    the ≤512-row bin table, and a 3-row output. The EXACT column is the
    audit — at 100 TB you'd drop it or compute it on a sample; the sketch
    itself never sorts and never holds more than 512 counters."""
    o = _qhist_cents(spark, sf_dir)
    mm = _qhist_mm(o)
    binned = (
        _qhist_binned(o.crossJoin(F.broadcast(mm)))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _qhist_report(spark, sf_dir, binned, mm)


def _qhist_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer price cents — the exact (float-free) histogram domain."""
    return load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )


def _qhist_mm(cents: DataFrame) -> DataFrame:
    """1-row (min_c, max_c, n) frame fixing the histogram edges."""
    return cents.agg(
        F.min("cents").alias("min_c"),
        F.max("cents").alias("max_c"),
        F.count(F.lit(1)).alias("n"),
    )


def _qhist_binned(withmm: DataFrame) -> DataFrame:
    """Pure-integer bin assignment over a (cents, min_c, max_c, …) frame —
    stateless, so the same projection runs on a stream side unchanged."""
    return withmm.select(
        F.least(
            F.lit(_QHIST_NB - 1),
            F.expr(f"(cents - min_c) * {_QHIST_NB} DIV (max_c - min_c + 1)"),
        ).alias("bin")
    )


def _qhist_report(
    spark: SparkSession, sf_dir: str, binned: DataFrame, mm: DataFrame
) -> DataFrame:
    """Shared tail: cumulative bin table → quantile crossing bins →
    midpoint estimates vs the exact interpolated percentiles."""
    cum = binned.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _QHIST_QS])).alias("q")
    )
    hits = (
        qs.crossJoin(F.broadcast(mm))
        .withColumn("target_rank", F.ceil(F.col("q") * F.col("n")))
        .join(F.broadcast(cum), F.col("cum") >= F.col("target_rank"))
        .groupBy("q", "target_rank", "min_c", "max_c", "n")
        .agg(F.min("bin").alias("est_bin"))
    )
    width_c = (F.col("max_c") - F.col("min_c") + 1) / F.lit(float(_QHIST_NB))
    est = (F.col("min_c") + (F.col("est_bin") + 0.5) * width_c) / 100.0
    exact = load_table(spark, sf_dir, "orders").agg(
        F.expr(
            "percentile(o_totalprice, array("
            + ", ".join(f"{q}D" for q in _QHIST_QS)
            + "))"
        ).alias("xs")
    ).select(F.posexplode("xs").alias("pos", "exact"))
    qpos = {q: i for i, q in enumerate(_QHIST_QS)}
    hits = hits.withColumn(
        "pos",
        F.coalesce(
            *[
                F.when(F.col("q") == q, F.lit(i))
                for q, i in qpos.items()
            ]
        ),
    )
    return (
        hits.join(exact, "pos")
        .select(
            "q",
            F.col("n").alias("n_rows"),
            F.col("target_rank").cast("long").alias("target_rank"),
            F.col("est_bin").cast("int").alias("est_bin"),
            F.round(est, 4).alias("estimate"),
            F.round("exact", 4).alias("exact"),
            F.round(F.abs(est - F.col("exact")), 4).alias("abs_err"),
            # div-safe: _QHIST_NB and the /100 are nonzero constants
            F.round(width_c / 100.0, 4).alias("bin_width"),
        )
        .orderBy("q")
    )


_QHIST_SQL = f"""
WITH cents AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders
),
mm AS (
  SELECT MIN(cents) AS min_c, MAX(cents) AS max_c, COUNT(*) AS n FROM cents
),
binned AS (
  SELECT LEAST({_QHIST_NB - 1},
               (cents - min_c) * {_QHIST_NB} // (max_c - min_c + 1)) AS bin,
         COUNT(*) AS cnt
  FROM cents, mm
  GROUP BY 1
),
cum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM binned
),
-- ::DOUBLE: a bare 0.9 parses as DECIMAL, whose EXACT q*n can land one
-- CEIL below the double product Spark computes
qs AS (SELECT unnest([{", ".join(f"{q}::DOUBLE" for q in _QHIST_QS)}]) AS q),
hits AS (
  SELECT q, CEIL(q * n) AS target_rank, min_c, max_c, n,
         MIN(bin) AS est_bin
  FROM qs, mm, cum
  WHERE cum >= CEIL(q * n)
  GROUP BY q, min_c, max_c, n
),
exact AS (
  SELECT quantile_cont(o_totalprice,
                       [{", ".join(str(q) for q in _QHIST_QS)}]) AS xs
  FROM orders
),
exploded AS (
  SELECT generate_subscripts(xs, 1) - 1 AS pos, unnest(xs) AS exact
  FROM exact
)
SELECT h.q,
       CAST(h.n AS BIGINT) AS n_rows,
       CAST(h.target_rank AS BIGINT) AS target_rank,
       CAST(h.est_bin AS INTEGER) AS est_bin,
       -- div-safe: the bin count and /100 are nonzero constants
       ROUND((h.min_c + (h.est_bin + 0.5)
              * ((h.max_c - h.min_c + 1) / {float(_QHIST_NB)!r})) / 100.0, 4)
         AS estimate,
       ROUND(e.exact, 4) AS exact,
       ROUND(ABS((h.min_c + (h.est_bin + 0.5)
                  * ((h.max_c - h.min_c + 1) / {float(_QHIST_NB)!r})) / 100.0
                 - e.exact), 4) AS abs_err,
       -- div-safe: same constants
       ROUND(((h.max_c - h.min_c + 1) / {float(_QHIST_NB)!r}) / 100.0, 4)
         AS bin_width
FROM hits h
JOIN exploded e
  ON e.pos = CASE h.q {" ".join(f"WHEN {q} THEN {i}" for i, q in enumerate(_QHIST_QS))} END
ORDER BY q
"""


def profile_orders_columns_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of :func:`profile_orders_columns`: distinct counts
    via ``approx_count_distinct`` (HLL++, constant memory, ONE pass with NO
    Expand — the exact multi-distinct profiler multiplies every input row
    once per distinct aggregate before the shuffle). rows-only in the
    driver gate (sketch estimates are engine-specific); bounded by a ±5 %
    pytest against the exact profiler."""
    o = load_table(spark, sf_dir, "orders")
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        norm = _profile_norm(c, kind)
        metrics += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.approx_count_distinct(c, 0.01).alias(f"nd_{c}"),
            F.expr(norm.format(agg="MIN")).alias(f"mn_{c}"),
            F.expr(norm.format(agg="MAX")).alias(f"mx_{c}"),
        ]
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c, _ in _PROFILE_COLS
    )
    return (
        o.agg(*metrics)
        .select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack}) AS "
                "(column_name, n_null, n_distinct_approx, min_val, max_val)"
            ),
            "n_rows",
        )
        .select(
            "column_name", "n_rows", "n_null", "n_distinct_approx",
            "min_val", "max_val",
        )
        .orderBy("column_name")
    )


def events_user_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (the Apache DataSketches HLL surface Spark
    ships): per (event_type, day) an ``hll_sketch_agg`` of user_id is
    materialized — the daily rollup table a pipeline stores — then
    period-level distinct users come from ``hll_union_agg`` over the DAILY
    SKETCHES, never by rescanning events. The output contrasts the merged
    estimate with the (double-counting) sum of daily estimates — the error
    naive roll-ups make because COUNT DISTINCT does not add.

    This is the 100 TB idiom for distinct-over-time: sketches are a few KB
    per group, merge is associative (any rollup tree works, including
    incremental day-by-day), and accuracy is ~±2% at lgConfigK=12 (bounded
    by a pytest against exact counts). No oracle: sketch internals are
    engine-specific by design — DuckDB's approx_count_distinct uses a
    different estimator.

    Cites the reference's aggregation design doc
    (``spark-groupby-analysis.md:6-123``) — partial/final aggregation of a
    mergeable state is exactly what its groupBy analysis describes."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    daily = events.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    # the stored rollup table: bounded (types x days), reused by any period
    daily = materialize(daily)
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_unique_users"),
            F.sum(F.hll_sketch_estimate("sk")).alias("sum_daily_est"),
        )
        .orderBy("event_type")
    )


def bitmap_user_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct rollup via bitmap aggregates — the
    complement of :func:`events_user_hll_rollup`: when ids are dense
    integers, per-day RoaringBitmap-style partials (``bitmap_construct_agg``
    over ``bitmap_bit_position``, bucketed by ``bitmap_bucket_number``)
    OR-merge to EXACT period distinct counts — mergeable like a sketch,
    exact like COUNT DISTINCT, a few KB per (group, bucket).

    This is how a 100 TB pipeline counts distinct users per slice without
    an Expand/double-shuffle COUNT DISTINCT: daily bitmap partials are the
    stored rollup; any period = OR of dailies. Fully oracle-checked —
    equality with DuckDB's COUNT(DISTINCT) proves exactness, not just
    plausibility."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    daily = events.groupBy(
        "event_type", "day", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    # the stored rollup table (types x days x buckets), merged per period
    daily = materialize(daily)
    per_bucket = daily.groupBy("event_type", "bkt").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("n_in_bucket")
    )
    n_days = daily.groupBy("event_type").agg(
        F.countDistinct("day").alias("n_days")
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum("n_in_bucket").cast("long").alias("n_unique_users"))
        .join(n_days, "event_type")
        .select("event_type", "n_days", "n_unique_users")
        .orderBy("event_type")
    )


_BITMAP_ROLLUP_SQL = """
SELECT event_type,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       COUNT(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def user_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel: per user, the first ``view``,
    the first ``click`` AFTER that view, and the first ``purchase`` AFTER
    that click — the sequencing that distinguishes a funnel from three
    independent EXISTS checks (a purchase before the first view must NOT
    count). Output: one row of stage populations + conversion rates.

    Scale shape: three aggregates on user_id with two re-joins to the
    event stream — each join is an equi-join on user_id carrying one
    timestamp column; all stages shuffle on the same key so Catalyst
    reuses the partitioning. No window over the raw stream, no
    per-user collect."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    mv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    mc = (
        ev.join(mv, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    mp = (
        ev.join(mc, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n_users = ev.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_users"))
    stage = (
        mv.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(mc.agg(F.count(F.lit(1)).alias("n_click_after_view"))))
        .crossJoin(F.broadcast(mp.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))))
        .crossJoin(F.broadcast(n_users))
    )
    return stage.select(
        "n_users",
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        # div-safe: n_users = COUNT(DISTINCT user) of a non-empty events
        # table, >= 1. NULLIF guards (r9 div sweep) on the chained funnel
        # stages: an empty upstream stage pins the downstream rate to NULL
        # in both engines instead of Spark-NULL-vs-DuckDB-inf.
        F.round(F.col("n_view") / F.col("n_users"), 4).alias("view_rate"),
        F.round(
            F.col("n_click_after_view")
            / F.nullif(F.col("n_view").cast("double"), F.lit(0.0)),
            4,
        ).alias("click_rate"),
        F.round(
            F.col("n_purchase_after_click")
            / F.nullif(F.col("n_click_after_view").cast("double"), F.lit(0.0)),
            4,
        ).alias("purchase_rate"),
    )


_FUNNEL_STEPS_SQL = """
WITH mv AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
mc AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN mv ON e.user_id = mv.user_id
  WHERE e.event_type = 'click' AND e.ts > mv.t_view
  GROUP BY e.user_id
),
mp AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN mc ON e.user_id = mc.user_id
  WHERE e.event_type = 'purchase' AND e.ts > mc.t_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM mv) AS n_view,
       (SELECT COUNT(*) FROM mc) AS n_click_after_view,
       (SELECT COUNT(*) FROM mp) AS n_purchase_after_click,
       -- div-safe: user count of a non-empty events table >= 1; NULLIF
       -- mirrors the Spark side's empty-funnel-stage guards
       ROUND((SELECT COUNT(*) FROM mv) / CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS DOUBLE), 4) AS view_rate,
       ROUND((SELECT COUNT(*) FROM mc) / NULLIF(CAST((SELECT COUNT(*) FROM mv) AS DOUBLE), 0), 4) AS click_rate,
       ROUND((SELECT COUNT(*) FROM mp) / NULLIF(CAST((SELECT COUNT(*) FROM mc) AS DOUBLE), 0), 4) AS purchase_rate
"""


def trending_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window trending: 2-hour windows sliding by 1 hour over the
    event stream, each window reporting its dominant event type — the batch
    twin of a streaming trending-topics job (same ``window()`` expression
    Structured Streaming uses). Rank-1 per window with a name tiebreak, so
    the winner is engine-deterministic.

    Scale shape: ``F.window`` assigns each event to duration/slide = 2
    windows map-side (an in-plan explode, no join against a window table),
    then one groupBy on (window, type) and a per-window top-1 over the
    bounded (windows x types) aggregate."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    counts = ev.groupBy(
        F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("win").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("win.start").alias("w_start"),
            F.col("event_type").alias("top_type"),
            "n",
        )
        .orderBy("w_start")
    )


_TRENDING_SQL = """
WITH assigned AS (
  SELECT date_trunc('hour', ts) - INTERVAL (o) HOUR AS w_start, event_type
  FROM events, unnest([0, 1]) t(o)
),
counts AS (
  SELECT w_start, event_type, COUNT(*) AS n
  FROM assigned GROUP BY w_start, event_type
),
ranked AS (
  SELECT w_start, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY w_start ORDER BY n DESC, event_type) AS rk
  FROM counts
)
SELECT w_start, event_type AS top_type, n
FROM ranked WHERE rk = 1
ORDER BY w_start
"""


def agg_selector_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selector/predicate aggregate family — ``max_by``/``min_by``
    (argmax/argmin), ``count_if``, ``bool_and``/``bool_or`` — per order
    priority. Argmax determinism: the ordering value is a composite
    integer (price cents · 1e7 + orderkey), unique per row, so both
    engines must select the identical order even when two orders share a
    price. All-JVM expressions, one groupBy shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    composite = cents * F.lit(10_000_000) + F.col("o_orderkey")
    return (
        orders.withColumn("pc", composite)
        .groupBy("o_orderpriority")
        .agg(
            F.expr("max_by(o_orderkey, pc)").alias("priciest_order"),
            F.expr("min_by(o_orderkey, pc)").alias("cheapest_order"),
            F.expr("count_if(o_totalprice > 200000)").alias("n_big"),
            F.expr("bool_and(o_totalprice > 0)").alias("all_positive"),
            F.expr("bool_or(o_orderstatus = 'P')").alias("any_pending"),
        )
        .orderBy("o_orderpriority")
    )


_SELECTOR_SQL = """
WITH keyed AS (
  SELECT *, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey AS pc
  FROM orders
)
SELECT o_orderpriority,
       arg_max(o_orderkey, pc) AS priciest_order,
       arg_min(o_orderkey, pc) AS cheapest_order,
       CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderstatus = 'P') AS any_pending
FROM keyed
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


#: equi-width histogram: price domain [0, 600000) in 20 bins of 30000.
_HIST_BIN_CENTS = 3_000_000
_HIST_BINS = 20


def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram in PURE INTEGER arithmetic (cents div
    bin-width, clamped to the last bin) — the distribution profile behind
    pricing dashboards and skew checks. Integer binning is deliberate:
    a float ``width_bucket`` puts boundary values wherever the engine's
    internal rounding lands them; cents arithmetic is cross-engine exact.
    One scan + one 20-group aggregate at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    bin_ = F.least(
        F.lit(_HIST_BINS - 1),
        F.expr(f"CAST(ROUND(o_totalprice * 100) AS BIGINT) div {_HIST_BIN_CENTS}"),
    ).cast("int")
    return (
        orders.select(bin_.alias("bin"), cents.alias("cents"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min("cents") / 100.0).alias("min_price"),
            (F.max("cents") / 100.0).alias("max_price"),
        )
        .orderBy("bin")
    )


_HISTOGRAM_SQL = f"""
WITH b AS (
  SELECT LEAST({_HIST_BINS - 1},
               CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_HIST_BIN_CENTS}) AS bin,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(bin AS INTEGER) AS bin,
       COUNT(*) AS n_orders,
       cast(MIN(cents) AS DOUBLE) / 100.0 AS min_price,
       cast(MAX(cents) AS DOUBLE) / 100.0 AS max_price
FROM b
GROUP BY bin
ORDER BY bin
"""


def cogrouped_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped grouped-map (``cogroup().applyInPandas``, §2.11's last
    uncovered shape): orders and customers are co-partitioned and each
    key's TWO pandas frames arrive in one call — the API for per-key
    reconciliation of two tables (here: per-customer max gap in days
    between consecutive orders, joined with the customer's segment,
    including customers with no orders at all — cogroup keys are the UNION
    of both sides, which a plain grouped-map cannot see).

    Granularity discipline (the difference between 32 s and 1 s at sf0.1,
    and between working and not working at 100 TB): the cogroup key is a
    COARSE BUCKET (custkey % 64), not the raw customer key — one pandas
    call per bucket with the per-customer logic VECTORIZED inside
    (sort + groupby.diff), instead of one interpreter round-trip per
    customer. Grouped-map Python cost is per-call, so key cardinality is
    the knob; the bucket count just has to exceed the cluster's task
    parallelism. The aggregate over the pandas output is ordinary JVM
    relational code, and the oracle replays the semantics with a window +
    left join."""
    import pandas as pd

    n_buckets = 64
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_day"),
        "o_orderkey",
        F.pmod("o_custkey", F.lit(n_buckets)).alias("bkt"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.pmod("c_custkey", F.lit(n_buckets)).alias("bkt"),
    )

    def merge(od: pd.DataFrame, cd: pd.DataFrame) -> pd.DataFrame:
        if len(od):
            od = od.sort_values(["o_custkey", "o_day", "o_orderkey"])
            # fully vectorized per-customer gaps: one diff over the sorted
            # frame, first row of each customer masked out — no per-group
            # Python apply (that shape is ~4x slower at bucket granularity)
            days = pd.to_datetime(od["o_day"])
            gap = days.diff().dt.days.mask(
                od["o_custkey"].ne(od["o_custkey"].shift())
            )
            od = od.assign(gap=gap)
            g = od.groupby("o_custkey", sort=False)
            agg = pd.DataFrame(
                {
                    "custkey": g.size().index,
                    "n_orders": g.size().values,
                    "max_gap_days": g["gap"].max().values,
                }
            )
        else:
            agg = pd.DataFrame(columns=["custkey", "n_orders", "max_gap_days"])
        cd = cd.rename(columns={"c_custkey": "custkey", "c_mktsegment": "segment"})[
            ["custkey", "segment"]
        ]
        out = cd.merge(agg, on="custkey", how="outer")
        out["segment"] = out["segment"].astype(object).where(out["segment"].notna(), None)
        out["n_orders"] = out["n_orders"].fillna(0).astype("int64")
        out["max_gap_days"] = out["max_gap_days"].astype("float64")
        return out[["custkey", "segment", "n_orders", "max_gap_days"]]

    per_cust = (
        orders.groupBy("bkt")
        .cogroup(cust.groupBy("bkt"))
        .applyInPandas(
            merge,
            "custkey long, segment string, n_orders long, max_gap_days double",
        )
    )
    return (
        per_cust.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_if(F.col("n_orders") == 0).alias("n_without_orders"),
            F.count_if(F.col("n_orders") >= 2).alias("n_multi_order"),
            F.sum("n_orders").cast("long").alias("total_orders"),
            F.round(F.avg("max_gap_days"), 4).alias("avg_max_gap_days"),
        )
        .orderBy("segment")
    )


_COGROUP_SQL = """
WITH seq AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_day, o_orderkey,
         LAG(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_day
  FROM orders
),
gaps AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         MAX(DATE_DIFF('day', prev_day, o_day)) AS max_gap_days
  FROM seq
  GROUP BY o_custkey
)
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_customers,
       CAST(count_if(g.n_orders IS NULL) AS BIGINT) AS n_without_orders,
       CAST(count_if(COALESCE(g.n_orders, 0) >= 2) AS BIGINT) AS n_multi_order,
       CAST(SUM(COALESCE(g.n_orders, 0)) AS BIGINT) AS total_orders,
       ROUND(AVG(g.max_gap_days), 4) AS avg_max_gap_days
FROM customer c LEFT JOIN gaps g ON c.c_custkey = g.o_custkey
GROUP BY c.c_mktsegment
ORDER BY segment
"""


def rolling_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day DISTINCT customer count — the window shape SQL cannot
    express directly (COUNT(DISTINCT) OVER is illegal in Spark and most
    engines): collapse to per-day customer sets first (bounded: one row per
    day), then a RANGE-interval frame unions the last 7 days' sets and
    counts the distinct members. Exact, and the set arrays live only in
    the bounded daily frame — the corpus-volume stream never enters a
    window.

    At much higher per-day cardinality the same frame carries daily HLL
    sketches instead (``hll_union_agg`` over the window — see
    events_user_hll_rollup for the sketch algebra); the exact-set form is
    kept here because it oracles exactly."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.collect_set("o_custkey").alias("custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return spark.sql("""
SELECT day, n_orders,
       size(custs) AS n_cust_1d,
       size(array_distinct(flatten(collect_list(custs) OVER w))) AS n_cust_7d
FROM {daily}
WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
ORDER BY day
""", daily=daily)


_ROLLING_DISTINCT_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         list(DISTINCT o_custkey) AS custs,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT day, n_orders,
       CAST(len(custs) AS INTEGER) AS n_cust_1d,
       CAST(len(list_distinct(flatten(list(custs) OVER w))) AS INTEGER) AS n_cust_7d
FROM daily
WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
ORDER BY day
"""


def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next type | current type), from a lag window per user —
    the behavioral-model input for session simulation and bot detection.
    One shuffle on user_id for the window, then a (types × types) bounded
    aggregate; probabilities divide integer counts, so values are
    cross-engine exact before the final ROUND."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    totals = pairs.groupBy("prev_type").agg(F.count(F.lit(1)).alias("n_from"))
    return (
        pairs.groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(totals, "prev_type")
        .select(
            "prev_type",
            F.col("event_type").alias("next_type"),
            "n",
            # div-safe: n_from is a GROUP BY count >= 1
            F.round(F.col("n") / F.col("n_from"), 6).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
pairs AS (SELECT prev_type, event_type FROM seq WHERE prev_type IS NOT NULL),
totals AS (SELECT prev_type, COUNT(*) AS n_from FROM pairs GROUP BY prev_type)
SELECT p.prev_type, p.event_type AS next_type, COUNT(*) AS n,
       -- div-safe: n_from is a GROUP BY count >= 1
       ROUND(COUNT(*) / CAST(t.n_from AS DOUBLE), 6) AS p
FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
GROUP BY p.prev_type, p.event_type, t.n_from
ORDER BY 1, 2
"""


def map_higher_order_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map HIGHER-ORDER lambdas (§2.9's last uncovered corner beyond
    map_functions_order_flags' scalar family): transform_values /
    map_filter / map_zip_with over the per-order flag→count map — doubled
    counts, low-count entries filtered out, and a self-zip computing
    per-key shares. Maps stay intra-row; the oracle checks the extracted
    results against their direct relational equivalents."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    per_flag = (
        li.filter(F.col("l_orderkey") % 50 == 0)
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the order total is an AGGREGATE output (not a project alias over a
    # map fold): referencing a single-use fold alias inside the
    # map_zip_with lambda gets it inlined by CollapseProject and re-run
    # per map entry — the loop-invariant-HOF recompute the plan audit
    # lints against; an Aggregate attribute cannot be inlined.
    with_total = per_flag.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_returnflag", "cnt")))
        ).alias("m"),
        F.sum("cnt").alias("tot"),
    )
    return with_total.select(
        "l_orderkey",
        # transform_values: doubled counts, re-aggregated
        F.aggregate(
            F.map_values(F.transform_values("m", lambda k, v: v * 2)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("doubled_total"),
        # map_filter: how many flags carry more than 2 lines
        F.size(F.map_filter("m", lambda k, v: v > 2)).alias("n_heavy_flags"),
        # map_zip_with(m, m): per-key share of the order's lines, max taken
        F.round(
            F.array_max(
                F.map_values(
                    F.map_zip_with(
                        # div-safe: tot sums map counts >= 1
                        "m", "m",
                        lambda k, v1, v2: v1 / F.col("tot").cast("double"),
                    )
                )
            ),
            6,
        ).alias("max_flag_share"),
    ).orderBy("l_orderkey")


_MAP_HOF_SQL = """
WITH per_flag AS (
  SELECT l_orderkey, l_returnflag, COUNT(*) AS cnt
  FROM lineitem WHERE l_orderkey % 50 = 0
  GROUP BY l_orderkey, l_returnflag
)
SELECT l_orderkey,
       CAST(SUM(cnt) * 2 AS BIGINT) AS doubled_total,
       CAST(count_if(cnt > 2) AS INTEGER) AS n_heavy_flags,
       -- div-safe: SUM over per-flag counts >= 1
       ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6) AS max_flag_share
FROM per_flag
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` vs ``explode`` (§2.9): rows whose array is EMPTY
    survive an outer explode as a single null row but vanish under the
    inner form — the off-by-everything bug in any tokenize-then-explode
    pipeline where some documents have no long tokens. Both variants are
    computed and reconciled per language: outer row count = inner rows +
    empty-array docs; the oracle replays the set algebra relationally."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    from datafusion_impl_spark.operators.text import tokens

    long_toks = F.filter(tokens("text"), lambda t: F.length(t) > 9)
    base = docs.select("doc_id", "lang", long_toks.alias("lt"))
    inner = base.select("lang", F.explode("lt").alias("t")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_inner_rows")
    )
    outer = base.select("lang", F.explode_outer("lt").alias("t")).groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_outer_rows"),
        F.count_if(F.col("t").isNull()).alias("n_empty_docs"),
    )
    return (
        outer.join(inner, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_inner_rows", F.lit(0)).alias("n_inner_rows"),
            "n_outer_rows",
            "n_empty_docs",
        )
        .orderBy("lang")
    )


_EXPLODE_OUTER_SQL = r"""
WITH base AS (
  SELECT doc_id, lang,
         list_filter(list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
                     t -> length(t) > 9) AS lt
  FROM documents
)
SELECT lang,
       CAST(SUM(len(lt)) AS BIGINT) AS n_inner_rows,
       CAST(SUM(CASE WHEN len(lt) = 0 THEN 1 ELSE len(lt) END) AS BIGINT) AS n_outer_rows,
       CAST(count_if(len(lt) = 0) AS BIGINT) AS n_empty_docs
FROM base
GROUP BY lang
ORDER BY lang
"""


def pivot_multi_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregate measures per pivoted value (§2.5's
    last pivot variant): per market segment, each order status becomes a
    (count, revenue) column PAIR — Spark names them ``{value}_{agg alias}``
    and the query re-aliases to a stable contract. The oracle replays with
    conditional aggregation, the pivot's relational identity."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_orderstatus", "o_totalprice")
    pivoted = (
        base.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
    return pivoted.select(
        "c_mktsegment",
        F.col("F_n").alias("f_n"),
        F.col("F_rev").alias("f_rev"),
        F.col("O_n").alias("o_n"),
        F.col("O_rev").alias("o_rev"),
        F.col("P_n").alias("p_n"),
        F.col("P_rev").alias("p_rev"),
    ).orderBy("c_mktsegment")


_PIVOT_MULTI_SQL = """
SELECT c_mktsegment,
       CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS f_n,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f_rev,
       CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS o_n,
       ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS o_rev,
       CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS p_n,
       ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS p_rev
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Portable HyperLogLog (mergeable distinct-count sketch, exact oracle)
# --------------------------------------------------------------------------

#: HLL precision: 2^9 = 512 registers (~4.6% standard error).
_HLL_P = 9
_HLL_M = 1 << _HLL_P
#: md5_long yields 60 bits; after the 9 bucket bits, 51 remain for the
#: leading-zero rank, so rho ranges 1..52 (52 = the remainder was zero).
_HLL_W = 60 - _HLL_P


def _hll_regs(ev: DataFrame) -> DataFrame:
    """(event_type, bucket, r): sparse 512-register HLL sketch per event
    type over the cross-engine ``md5_long`` user hash — bucket = low 9
    hash bits, r = max leading-zero rank of the high 51 bits (pure
    integer ops, bit-reproducible in DuckDB)."""
    from datafusion_impl_spark.operators import md5_long

    h = md5_long(F.col("user_id").cast("string"))
    return (
        ev.select(
            "event_type",
            h.bitwiseAND(F.lit(_HLL_M - 1)).alias("bucket"),
            F.shiftright(h, _HLL_P).alias("w"),
        )
        .select(
            "event_type",
            "bucket",
            F.when(F.col("w") == 0, F.lit(_HLL_W + 1))
            .otherwise(F.lit(_HLL_W + 1) - F.length(F.bin("w")))
            .alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def _hll_estimates(reg_df: DataFrame, keys: list[str]) -> DataFrame:
    """Standard HLL estimator over sparse register rows grouped by
    ``keys``: exact-BIGINT harmonic sum (empty registers contribute 2^52),
    bias constant, small-range linear-counting correction; the estimate
    rounds at 2 dp so downstream sketch algebra is cross-engine stable."""
    s_hit = F.sum(
        F.pow(F.lit(2.0), F.lit(_HLL_W + 1) - F.col("r")).cast("long")
    )
    v = F.lit(_HLL_M) - F.count(F.lit(1))
    s_int = s_hit + v * F.lit(2 ** (_HLL_W + 1)).cast("long")
    # div-safe: constant denominators (1 + 1.079/512 and m are > 0)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(_HLL_M))
    # div-safe: s_int >= m * 1 > 0 (every register contributes >= 1)
    raw = (
        alpha
        * F.lit(float(_HLL_M))
        * F.lit(float(_HLL_M))
        * F.lit(float(2 ** (_HLL_W + 1)))
        / F.col("s_int")
    )
    return reg_df.groupBy(*keys).agg(
        s_int.alias("s_int"),
        v.cast("long").alias("v"),
        F.count(F.lit(1)).cast("long").alias("buckets_used"),
    ).select(
        *keys,
        "buckets_used",
        F.round(
            F.when(
                (raw <= 2.5 * _HLL_M) & (F.col("v") > 0),
                # div-safe: v > 0 in this branch
                F.lit(float(_HLL_M))
                * F.log(F.lit(float(_HLL_M)) / F.col("v")),
            ).otherwise(raw),
            2,
        ).alias("hll_estimate"),
    )


def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HyperLogLog: per-event-type distinct users estimated from
    explicit 512-register sketches built on the repo's cross-engine
    ``md5_long`` hash — unlike ``approx_count_distinct``, whose engine-
    internal sketch no oracle can replay, every register here is exactly
    reproducible in DuckDB, so the ORACLE CHECKS THE SKETCH ITSELF, not a
    tolerance. The ``__ALL__`` row is computed by MERGING the per-type
    sketches (register-wise max) — the mergeability that makes HLL the
    100 TB distinct-count tool (combine per-partition/per-day sketches
    without re-scanning). Per row: exact distinct (the audit), the HLL
    estimate, relative error, and registers hit.

    Determinism: bucket = low 9 hash bits, rank = 52 - bitlength(high 51
    bits) — pure integer ops; the harmonic sum is computed as an exact
    BIGINT (sum of 2^(52-rho), empty registers contributing 2^52), so the
    only float ops are one division, the bias constant, and the small-
    range LN correction — identical IEEE in both engines.

    Scale shape: one groupBy (type, bucket) with map-side combine (the
    shuffle carries <= types*512 rows), then a 512-row-per-type rollup;
    the merge path touches only register rows, never the events table."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return _hll_report(ev, _hll_regs(ev))


def _hll_report(ev: DataFrame, regs: DataFrame) -> DataFrame:
    """The report tail shared by the batch sketch and its streaming twin:
    merge an ``__ALL__`` sketch register-wise, estimate, and audit against
    the exact distinct counts from the batch events frame ``ev``."""
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .select(F.lit("__ALL__").alias("event_type"), "bucket", "r")
    )
    all_regs = regs.unionByName(merged)

    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    exact_all = ev.agg(
        F.countDistinct("user_id").alias("n_exact")
    ).select(F.lit("__ALL__").alias("event_type"), "n_exact")
    return (
        _hll_estimates(all_regs, ["event_type"])
        .join(exact.unionByName(exact_all), "event_type")
        .select(
            "event_type",
            "n_exact",
            "hll_estimate",
            # div-safe: n_exact >= 1 for listed event types
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact"))
                / F.col("n_exact"),
                4,
            ).alias("rel_error"),
            "buckets_used",
        )
        .orderBy("event_type")
    )


def sketch_hll_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH ALGEBRA: pairwise user-audience overlap between event types
    computed ONLY from the per-type HLL sketches — per unordered type
    pair, the union sketch is the register-wise max, the intersection
    estimate is inclusion-exclusion (|A|+|B|−|A∪B|, floored at 0), and
    Jaccard follows. This is the 100 TB overlap workflow: cross-segment
    audience overlap from stored per-segment sketches, never a user-level
    self-join — the exact intersection column here exists purely as the
    audit (and is the thing you could NOT afford at scale).

    Determinism: all estimates come from :func:`_hll_estimates` (exact
    integer harmonic sums, 2-dp rounding), so the inclusion-exclusion
    arithmetic runs on identical doubles in both engines."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = _hll_regs(ev)
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    # pair-union registers: each pair adopts both member sketches' rows
    # (two broadcast equi-joins, never an OR-join), then register-wise max
    pair_regs = (
        F.broadcast(pairs)
        .join(regs, F.col("type_a") == F.col("event_type"))
        .select("type_a", "type_b", "bucket", "r")
        .unionByName(
            F.broadcast(pairs)
            .join(regs, F.col("type_b") == F.col("event_type"))
            .select("type_a", "type_b", "bucket", "r")
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("r").alias("r"))
    )
    est_u = _hll_estimates(pair_regs, ["type_a", "type_b"]).select(
        "type_a", "type_b", F.col("hll_estimate").alias("est_union")
    )
    est_t = _hll_estimates(regs, ["event_type"])
    est_a = est_t.select(
        F.col("event_type").alias("type_a"),
        F.col("hll_estimate").alias("est_a"),
    )
    est_b = est_t.select(
        F.col("event_type").alias("type_b"),
        F.col("hll_estimate").alias("est_b"),
    )
    du = ev.distinct()
    exact_inter = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("exact_inter"))
    )
    inter = F.round(
        F.greatest(
            F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
        ),
        2,
    )
    return (
        est_u.join(F.broadcast(est_a), "type_a")
        .join(F.broadcast(est_b), "type_b")
        .join(exact_inter, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("exact_inter", F.lit(0)).cast("long").alias(
                "exact_inter"
            ),
            inter.alias("est_inter"),
            "est_union",
            # div-safe: a union of non-empty sketches estimates > 0
            F.round(inter / F.col("est_union"), 4).alias("est_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


#: shared SQL fragments for the HLL oracles.
_HLL_ALPHA_SQL = f"(0.7213 / (1.0 + 1.079 / {_HLL_M}))"
_HLL_POW_SQL = float(2 ** (_HLL_W + 1))


def _hll_est_sql(src: str, keys: str) -> str:
    """SELECT producing ``keys, buckets_used, hll_estimate`` from a sparse
    register relation ``src(… keys …, bucket, r)`` — the SQL twin of
    :func:`_hll_estimates`."""
    return f"""
  SELECT {keys}, buckets_used,
         ROUND(CASE WHEN raw <= 2.5 * {_HLL_M} AND v > 0
                    -- div-safe: v > 0 in this branch
                    THEN {float(_HLL_M)} * LN({float(_HLL_M)} / v)
                    ELSE raw END, 2) AS hll_estimate
  FROM (
    SELECT {keys},
           CAST(COUNT(*) AS BIGINT) AS buckets_used,
           {_HLL_M} - COUNT(*) AS v,
           -- div-safe: the harmonic sum is >= m (every register >= 1)
           {_HLL_ALPHA_SQL} * {float(_HLL_M)} * {float(_HLL_M)}
             * {_HLL_POW_SQL}
             / (SUM(CAST(POW(2, {_HLL_W + 1} - r) AS BIGINT))
                + ({_HLL_M} - COUNT(*)) * CAST(POW(2, {_HLL_W + 1}) AS BIGINT))
             AS raw
    FROM {src} GROUP BY {keys}
  )
"""


_HLL_REGS_SQL = f"""
ev AS (
  SELECT event_type, {duck_md5_long("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
rho AS (
  SELECT event_type, h & {_HLL_M - 1} AS bucket,
         CASE WHEN (h >> {_HLL_P}) = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(h >> {_HLL_P})) END AS rho
  FROM ev
),
regs AS (
  SELECT event_type, bucket, MAX(rho) AS r FROM rho
  GROUP BY event_type, bucket
)
"""


_HLL_OVERLAP_SQL = f"""
WITH {_HLL_REGS_SQL},
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM regs) a
  JOIN (SELECT DISTINCT event_type FROM regs) b
    ON a.event_type < b.event_type
),
pair_regs AS (
  SELECT type_a, type_b, bucket, MAX(r) AS r FROM (
    SELECT p.type_a, p.type_b, g.bucket, g.r
    FROM pairs p JOIN regs g ON g.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, g.bucket, g.r
    FROM pairs p JOIN regs g ON g.event_type = p.type_b
  ) GROUP BY type_a, type_b, bucket
),
est_u AS ({_hll_est_sql("pair_regs", "type_a, type_b")}),
est_t AS ({_hll_est_sql("regs", "event_type")}),
du AS (SELECT DISTINCT event_type, user_id FROM events),
exact_inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(DISTINCT a.user_id) AS exact_inter
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT u.type_a, u.type_b,
       CAST(COALESCE(x.exact_inter, 0) AS BIGINT) AS exact_inter,
       ROUND(GREATEST(0.0, ea.hll_estimate + eb.hll_estimate
                           - u.hll_estimate), 2) AS est_inter,
       u.hll_estimate AS est_union,
       -- div-safe: a union of non-empty sketches estimates > 0
       ROUND(GREATEST(0.0, ea.hll_estimate + eb.hll_estimate
                           - u.hll_estimate) / u.hll_estimate, 4)
         AS est_jaccard
FROM est_u u
JOIN est_t ea ON ea.event_type = u.type_a
JOIN est_t eb ON eb.event_type = u.type_b
LEFT JOIN exact_inter x ON x.type_a = u.type_a AND x.type_b = u.type_b
ORDER BY u.type_a, u.type_b
"""


_HLL_SQL = f"""
WITH ev AS (
  SELECT event_type, {duck_md5_long("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
rho AS (
  SELECT event_type, h & {_HLL_M - 1} AS bucket,
         CASE WHEN (h >> {_HLL_P}) = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(h >> {_HLL_P})) END AS rho
  FROM ev
),
regs AS (
  SELECT event_type, bucket, MAX(rho) AS r FROM rho
  GROUP BY event_type, bucket
),
all_regs AS (
  SELECT event_type, bucket, r FROM regs
  UNION ALL
  SELECT '__ALL__' AS event_type, bucket, MAX(r) AS r FROM regs
  GROUP BY bucket
),
est AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS buckets_used,
         SUM(CAST(POW(2, {_HLL_W + 1} - r) AS BIGINT))
           + ({_HLL_M} - COUNT(*)) * CAST(POW(2, {_HLL_W + 1}) AS BIGINT)
           AS s_int,
         {_HLL_M} - COUNT(*) AS v
  FROM all_regs GROUP BY event_type
),
scored AS (
  SELECT event_type, buckets_used, v,
         -- div-safe: s_int >= m (every register contributes >= 1)
         (0.7213 / (1.0 + 1.079 / {_HLL_M})) * {float(_HLL_M)}
           * {float(_HLL_M)} * {float(2 ** (_HLL_W + 1))}
           / s_int AS raw
  FROM est
),
final AS (
  SELECT event_type, buckets_used,
         ROUND(CASE WHEN raw <= 2.5 * {_HLL_M} AND v > 0
                    -- div-safe: v > 0 in this branch
                    THEN {float(_HLL_M)} * LN({float(_HLL_M)} / v)
                    ELSE raw END, 2) AS hll_estimate
  FROM scored
),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
  GROUP BY event_type
  UNION ALL
  SELECT '__ALL__', COUNT(DISTINCT user_id) FROM events
)
SELECT f.event_type,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       f.hll_estimate,
       -- div-safe: n_exact >= 1 for listed event types
       ROUND(ABS(f.hll_estimate - e.n_exact) / e.n_exact, 4) AS rel_error,
       f.buckets_used
FROM final f JOIN exact e USING (event_type)
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Join-skew advisor (r14): the pre-flight diagnosis that DECIDES whether
# the salted join/agg machinery in scale.py is needed — per join key, the
# heavy-hitter profile and the salt count the skew implies
# --------------------------------------------------------------------------

#: the key columns a 100 TB deployment of this schema would join/aggregate
#: on — each gets a skew profile row.
_SKEW_KEYS = (
    ("events", "user_id"),
    ("events", "event_type"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
    ("documents", "source"),
)


def join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SKEW ADVISOR — the diagnosis that precedes every salting
    decision (AQE's skew-join handles sort-merge spills, but aggregation
    and broadcast-side skew still need the scale.py salting machinery;
    this report says WHERE): for each production join/aggregate key, one
    scan builds the per-key cardinality profile — row/key counts, the
    heaviest key's share, the p50/p99 group sizes (exact interpolated
    percentiles, the cross-engine-safe pattern), a skew ratio (max/mean),
    and the implied salt count ``ceil(max_key_rows / mean)`` — exactly the
    factor that splits the heaviest key into average-sized shards. The
    uniform TPC-H keys correctly advise 1-2 salts while event_type (5
    values over 100k rows) reports the fan-in a type-keyed shuffle would
    see.

    Scale shape: per audited key, scan → two-phase per-key count →
    bounded stats aggregate over the count table (the count table is
    |keys| rows — itself the thing being measured; its percentile runs
    per key column, never a global sort of the fact table)."""
    outs = []
    for table, key in _SKEW_KEYS:
        per_key = (
            load_table(spark, sf_dir, table)
            .select(F.col(key))
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        outs.append(
            per_key.agg(
                F.lit(f"{table}.{key}").alias("join_key"),
                F.sum("c").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.max("c").cast("long").alias("max_key_rows"),
                F.expr("percentile(c, 0.5)").alias("p50_key_rows"),
                F.expr("percentile(c, 0.99)").alias("p99_key_rows"),
            )
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    # div-safe: n_keys >= 1 and n_rows >= 1 (audited tables are non-empty)
    mean = F.col("n_rows") / F.col("n_keys").cast("double")
    return u.select(
        "join_key",
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.round("p50_key_rows", 4).alias("p50_key_rows"),
        F.round("p99_key_rows", 4).alias("p99_key_rows"),
        F.round(
            # div-safe: n_rows >= 1
            F.col("max_key_rows") / F.col("n_rows").cast("double"), 6
        ).alias("max_key_share"),
        F.round(F.col("max_key_rows") / mean, 4).alias("skew_ratio"),
        F.ceil(F.col("max_key_rows") / mean).cast("long").alias(
            "recommended_salts"
        ),
    ).orderBy("join_key")


def _skew_advisor_oracle() -> str:
    parts = []
    for table, key in _SKEW_KEYS:
        parts.append(f"""
  SELECT '{table}.{key}' AS join_key,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         COUNT(*) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_key_rows,
         quantile_cont(c, 0.5) AS p50_key_rows,
         quantile_cont(c, 0.99) AS p99_key_rows
  FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY {key})""")
    union = "\n  UNION ALL\n".join(parts)
    return f"""
WITH profiles AS (
{union}
)
SELECT join_key, n_rows, n_keys, max_key_rows,
       ROUND(p50_key_rows, 4) AS p50_key_rows,
       ROUND(p99_key_rows, 4) AS p99_key_rows,
       -- div-safe: n_rows >= 1 (audited tables are non-empty)
       ROUND(max_key_rows / CAST(n_rows AS DOUBLE), 6) AS max_key_share,
       -- div-safe: n_keys >= 1
       ROUND(max_key_rows / (n_rows / CAST(n_keys AS DOUBLE)), 4)
         AS skew_ratio,
       CAST(CEIL(max_key_rows / (n_rows / CAST(n_keys AS DOUBLE)))
            AS BIGINT) AS recommended_salts
FROM profiles
ORDER BY join_key
"""


QUERIES = {
    "join_skew_advisor": join_skew_advisor,
    "sketch_hll_distinct_users": sketch_hll_distinct_users,
    "sketch_hll_overlap_matrix": sketch_hll_overlap_matrix,
    "events_user_hll_rollup": events_user_hll_rollup,
    "bitmap_user_distinct_rollup": bitmap_user_distinct_rollup,
    "user_funnel_steps": user_funnel_steps,
    "trending_event_windows": trending_event_windows,
    "agg_selector_functions": agg_selector_functions,
    "order_price_histogram": order_price_histogram,
    "cogrouped_order_gap_stats": cogrouped_order_gap_stats,
    "rolling_distinct_customers": rolling_distinct_customers,
    "event_type_transitions": event_type_transitions,
    "map_higher_order_ops": map_higher_order_ops,
    "explode_outer_semantics": explode_outer_semantics,
    "pivot_multi_measures": pivot_multi_measures,
    "window_top_orders_per_customer": window_top_orders_per_customer,
    "window_running_revenue": window_running_revenue,
    "window_event_gaps": window_event_gaps,
    "window_rank_family": window_rank_family,
    "unpivot_part_measures": unpivot_part_measures,
    "higher_order_array_ops": higher_order_array_ops,
    "grouped_zscore_doclen": grouped_zscore_doclen,
    "events_daily_gapfill": events_daily_gapfill,
    "events_locf_imputation": events_locf_imputation,
    "events_linear_interpolation": events_linear_interpolation,
    "grouped_winsorized_stats": grouped_winsorized_stats,
    "rolling_revenue_event_correlation": rolling_revenue_event_correlation,
    "map_functions_order_flags": map_functions_order_flags,
    "udaf_geometric_mean_events": udaf_geometric_mean_events,
    "sessionize_events": sessionize_events,
    "rollup_order_stats": rollup_order_stats,
    "cube_lineitem_flags": cube_lineitem_flags,
    "grouping_sets_events": grouping_sets_events,
    "distinct_segments": distinct_segments,
    "set_intersect_nations": set_intersect_nations,
    "set_except_nations": set_except_nations,
    "set_intersect_all_priorities": set_intersect_all_priorities,
    "set_except_all_priorities": set_except_all_priorities,
    "set_union_order_sources": set_union_order_sources,
    "anti_join_customers_without_orders": anti_join_customers_without_orders,
    "topk_expensive_orders": topk_expensive_orders,
    "min_price_part_per_brand": min_price_part_per_brand,
    "pivot_segment_by_status": pivot_segment_by_status,
    "scalar_string_functions": scalar_string_functions,
    "scalar_date_functions": scalar_date_functions,
    "scalar_math_case_cast": scalar_math_case_cast,
    "scalar_try_error_safe": scalar_try_error_safe,
    "scalar_array_struct_functions": scalar_array_struct_functions,
    "scalar_stats_aggregates": scalar_stats_aggregates,
    "join_key_skew_report": join_key_skew_report,
    "event_trigram_paths": event_trigram_paths,
    "lineitem_correlation_matrix": lineitem_correlation_matrix,
    "brand_affinity_lift": brand_affinity_lift,
    "rfm_customer_segments": rfm_customer_segments,
    "salted_event_type_stats": salted_event_type_stats,
    "salted_join_event_segments": salted_join_event_segments,
    "string_agg_nations_per_region": string_agg_nations_per_region,
    "approx_distinct_parts": approx_distinct_parts,
    "events_time_rollup": events_time_rollup,
    "profile_orders_columns": profile_orders_columns,
    "profile_orders_columns_approx": profile_orders_columns_approx,
    "order_price_percentiles": order_price_percentiles,
    "sketch_quantile_histogram": sketch_quantile_histogram,
    "sketch_join_cardinality": sketch_join_cardinality,
}

ORACLES = {
    "join_skew_advisor": _skew_advisor_oracle(),
    "sketch_hll_distinct_users": _HLL_SQL,
    "sketch_hll_overlap_matrix": _HLL_OVERLAP_SQL,
    "bitmap_user_distinct_rollup": _BITMAP_ROLLUP_SQL,
    "user_funnel_steps": _FUNNEL_STEPS_SQL,
    "trending_event_windows": _TRENDING_SQL,
    "agg_selector_functions": _SELECTOR_SQL,
    "order_price_histogram": _HISTOGRAM_SQL,
    "cogrouped_order_gap_stats": _COGROUP_SQL,
    "rolling_distinct_customers": _ROLLING_DISTINCT_SQL,
    "event_type_transitions": _TRANSITIONS_SQL,
    "map_higher_order_ops": _MAP_HOF_SQL,
    "explode_outer_semantics": _EXPLODE_OUTER_SQL,
    "pivot_multi_measures": _PIVOT_MULTI_SQL,
    "window_top_orders_per_customer": _WINDOW_TOP_SQL,
    "window_running_revenue": _WINDOW_RUNNING_SQL,
    "window_event_gaps": _WINDOW_GAPS_SQL,
    "window_rank_family": _WINDOW_RANK_SQL,
    "unpivot_part_measures": _UNPIVOT_SQL,
    "higher_order_array_ops": _HIGHER_ORDER_SQL,
    "grouped_zscore_doclen": _GROUPED_ZSCORE_SQL,
    "events_daily_gapfill": _GAPFILL_SQL,
    "events_locf_imputation": _LOCF_SQL,
    "events_linear_interpolation": _INTERP_SQL,
    "grouped_winsorized_stats": _WINSOR_SQL,
    "rolling_revenue_event_correlation": _ROLLCORR_SQL,
    "map_functions_order_flags": _MAP_FUNCS_SQL,
    "udaf_geometric_mean_events": _UDAF_GMEAN_SQL,
    "sessionize_events": _SESSIONIZE_SQL,
    "rollup_order_stats": _ROLLUP_SQL,
    "cube_lineitem_flags": _CUBE_SQL,
    "grouping_sets_events": _GROUPING_SETS_SQL,
    "distinct_segments": _DISTINCT_SQL,
    "set_intersect_nations": _SET_INTERSECT_SQL,
    "set_except_nations": _SET_EXCEPT_SQL,
    "set_intersect_all_priorities": _SET_INTERSECT_ALL_SQL,
    "set_except_all_priorities": _SET_EXCEPT_ALL_SQL,
    "set_union_order_sources": _SET_UNION_SQL,
    "anti_join_customers_without_orders": _ANTI_JOIN_SQL,
    "topk_expensive_orders": _TOPK_SQL,
    "min_price_part_per_brand": _MIN_PART_SQL,
    "pivot_segment_by_status": _PIVOT_SQL,
    "scalar_string_functions": _SCALAR_STRING_SQL,
    "scalar_date_functions": _SCALAR_DATE_SQL,
    "scalar_math_case_cast": _SCALAR_MATH_SQL,
    "scalar_try_error_safe": _SCALAR_TRY_SQL,
    "scalar_array_struct_functions": _SCALAR_ARRAY_SQL,
    "scalar_stats_aggregates": _SCALAR_STATS_SQL,
    "join_key_skew_report": _KEY_SKEW_SQL,
    "event_trigram_paths": _TRIGRAM_PATHS_SQL,
    "lineitem_correlation_matrix": _CORR_MATRIX_SQL,
    "brand_affinity_lift": _BRAND_LIFT_SQL,
    "rfm_customer_segments": _RFM_SQL,
    "salted_event_type_stats": _SALTED_STATS_SQL,
    "salted_join_event_segments": _SALTED_JOIN_SQL,
    "string_agg_nations_per_region": _STRING_AGG_SQL,
    # approx_distinct_parts: rows-only (sketches differ across engines)
    "events_time_rollup": _TIME_ROLLUP_SQL,
    "profile_orders_columns": _profile_oracle(),
    "order_price_percentiles": _PERCENTILES_SQL,
    "sketch_quantile_histogram": _QHIST_SQL,
    "sketch_join_cardinality": _jcard_oracle(),
}
