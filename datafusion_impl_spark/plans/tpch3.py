"""Third tranche of TPC-H-style queries, adapted to the driver's simplified
star schema (no partsupp table, no shipmode/commitdate/receiptdate columns —
adaptations noted per query). These close out the classic relational shapes
not yet on the checked surface: ratio-of-conditional-aggregates per group (Q8),
scalar-max equality join (Q15), NOT-IN + COUNT DISTINCT (Q16), wide
disjunctive predicates (Q19), and EXISTS/NOT-EXISTS composition (Q21).

Scale notes (100 TB posture): every query keeps filters ahead of joins so
parquet scans see pushed predicates; part/supplier joins are left to AQE's
broadcast decision; the Q21 exists/not-exists pair is expressed as
left-semi/left-anti joins on the order key (shuffle-partitioned, no
correlated re-scan per row)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_impl_spark.plans.tpch import _REV_SQL, _revenue
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: NATION_7 suppliers' share of PROMO-part revenue sold to EUROPE
    customers, per order year. Ratio of two conditional sums — both computed
    in exact decimal in one aggregation pass, divided as doubles at the end
    (deterministic regardless of combine order)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n_cust = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    vol = _revenue()
    target = F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(
        F.lit(0).cast("decimal(12,4)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            # div-safe: SUM of strictly positive revenue over a non-empty group
            (F.sum(target).cast("double") / F.sum(vol).cast("double")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q8_SQL = f"""
SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
         -- div-safe: SUM of strictly positive revenue over a non-empty group
                     ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT o_orderdate, n2.n_name AS supp_nation, {_REV_SQL} AS volume
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'PROMO' AND r_name = 'EUROPE')
GROUP BY o_year
ORDER BY o_year
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with the maximum revenue over one quarter — per-
    supplier aggregation joined to its own scalar max. Revenue stays exact
    decimal through the equality comparison (doubles would make the
    max-equality float-fragile), cast to double only for output."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mr"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mr"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 (partsupp absent — the part↔supplier relation is derived from
    lineitem's distinct (partkey, suppkey) pairs): distinct supplier count
    per brand/type/size for selected sizes, excluding Brand#1 and excluding
    "complaint" suppliers (negative balance) via NOT IN → left-anti join."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 10, 20, 30, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(part, pairs.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), pairs.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 10, 20, 30, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: revenue from three OR'd (brand, size-range, quantity-range)
    baskets — the wide-disjunction shape Catalyst must keep as one join
    (predicate stays on the join output; no union-of-three-scans blowup)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    basket1 = (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11)
    basket2 = (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20)
    basket3 = (F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(basket1 | basket2 | basket3)
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


_Q19_SQL = f"""
SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 (no commit/receipt dates — "late" is shipped >60 days after the
    order date): suppliers who were the ONLY late supplier on a finished
    multi-supplier order. EXISTS → left-semi join (another supplier on the
    order), NOT EXISTS → left-anti join (another LATE supplier) — both
    shuffle-partitioned on l_orderkey, never a correlated re-scan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    only_late = (
        late.join(
            l2, (late.l_orderkey == F.col("o2")) & (late.l_suppkey != F.col("s2")), "left_semi"
        )
        .join(
            l3, (late.l_orderkey == F.col("o3")) & (late.l_suppkey != F.col("s3")), "left_anti"
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        only_late.join(supp, only_late.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
SELECT s_name, COUNT(*) AS numwait
FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def q12_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 (no shipmode column — the classification dimension is instead
    shipping lateness): per order priority, CASE-sum counts of critically
    late (> 90 days), late (> 30 days), and on-time lineitems. The classic
    Q12 shape: one join, conditional sums, tiny output."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            bucket(lag_days > 90).alias("n_critical"),
            bucket((lag_days > 30) & (lag_days <= 90)).alias("n_late"),
            bucket(lag_days <= 30).alias("n_ontime"),
        )
        .orderBy("o_orderpriority")
    )


_Q12_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
                THEN 1 ELSE 0 END) AS BIGINT) AS n_critical,
       CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 30
                      AND datediff('day', o_orderdate, l_shipdate) <= 90
                THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES = {
    "q8_market_share": q8_market_share,
    "q12_priority_lateness": q12_priority_lateness,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q21_waiting_suppliers": q21_waiting_suppliers,
}

ORACLES = {
    "q8_market_share": _Q8_SQL,
    "q12_priority_lateness": _Q12_SQL,
    "q15_top_supplier": _Q15_SQL,
    "q16_supplier_part_counts": _Q16_SQL,
    "q19_disjunctive_revenue": _Q19_SQL,
    "q21_waiting_suppliers": _Q21_SQL,
}
