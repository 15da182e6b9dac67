"""Change-data-capture and temporal-table operators — the mutation side of a
pipeline the reference exercises read-only (its host engine's tables are
immutable scans, ``tests/regexp-tests.rs:14-33``), but that any production
corpus/warehouse deployment needs on day one: MERGE-style latest-wins upsert,
slowly-changing-dimension (type 2) history construction, and time-range
window frames (``RANGE BETWEEN INTERVAL``).

Scale notes (100 TB posture):

- ``merge_upsert_latest_orders`` is the MERGE INTO / latest-record-wins
  pattern: union the base snapshot with the change feed and keep the max
  version per key via one windowed ``row_number``. ONE shuffle on the merge
  key; AQE skew handling covers hot keys. On a real lakehouse this is the
  compaction step of any CDC ingest; the declarative form here is exactly
  what Catalyst needs to push column pruning into both inputs.
- ``scd2_order_status_history`` builds type-2 validity intervals with two
  windows over the SAME partition key (customer) — Catalyst plans one
  Exchange + one Sort and reuses them for both ``lag`` and ``lead``; no
  second shuffle.
- ``range_frame_weekly_revenue`` uses a time-RANGE frame over the *daily
  pre-aggregate* (one ordinary groupBy shuffle over the fact table; the
  window itself runs over ~2.4k bounded rows). Never run an un-partitioned
  RANGE window over the raw fact table — aggregate first, window second.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import materialize
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]


def merge_upsert_latest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins CDC merge: a deterministic change feed (every 7th order
    flips to status ``'U'`` at version 2) is merged into the base snapshot
    (version 1); per key the highest version survives. The post-merge state
    is summarized per status so the oracle checks every merge decision
    (13/14 of the keys keep their base row, 1/14 must take the update)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn("version", F.lit(1))
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("version", F.lit(2))
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    merged = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


_MERGE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
),
updates AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice, 2 AS version
  FROM orders WHERE o_orderkey % 7 = 0
),
merged AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
  FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM merged WHERE rn = 1
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def merge_cdc_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply with TOMBSTONES — the part of MERGE INTO that
    latest-wins upsert alone misses: the change feed carries inserts/updates
    AND deletes (op ``'D'``), and a delete must actually remove the key even
    though an older update for the same key exists in the feed. Feed here:
    every 7th key updates at version 2, every 13th key is deleted at
    version 3 (keys divisible by both get update-then-delete — the ordering
    trap this query pins).

    Same single-shuffle shape as the upsert merge (union + one windowed
    row_number on the key), then the surviving row is dropped if its
    latest op is a tombstone. Output: post-apply state per status plus the
    delete audit (how many keys vanished), so the oracle checks every
    apply decision including the update-then-delete overlap."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit(1).alias("version"), F.lit("I").alias("op"),
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"), "o_totalprice",
        F.lit(2).alias("version"), F.lit("U").alias("op"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", F.lit("X").alias("o_orderstatus"), "o_totalprice",
        F.lit(3).alias("version"), F.lit("D").alias("op"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    latest = (
        base.unionByName(updates)
        .unionByName(deletes)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    survivors = latest.filter(F.col("op") != "D")
    n_deleted = latest.filter(F.col("op") == "D").agg(
        F.count(F.lit(1)).alias("n_deleted")
    )
    return (
        survivors.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .crossJoin(F.broadcast(n_deleted))
        .orderBy("o_orderstatus")
    )


_MERGE_DELETES_SQL = """
WITH feed AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 'I' AS op
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice, 2, 'U' FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 'X', o_totalprice, 3, 'D' FROM orders WHERE o_orderkey % 13 = 0
),
latest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
  FROM feed
),
applied AS (SELECT * FROM latest WHERE rn = 1),
audit AS (SELECT COUNT(*) AS n_deleted FROM applied WHERE op = 'D')
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       (SELECT n_deleted FROM audit) AS n_deleted
FROM applied WHERE op <> 'D'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: per customer, collapse the
    order stream into status *validity intervals* — a row survives when its
    status differs from the previous order's (``lag``), and its interval
    closes at the next surviving row's start (``lead``). Output is the
    interval population per status: interval count, open (current) interval
    count, and mean closed-interval duration in days."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("o_day"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("o_day", "o_orderkey")
    changes = orders.withColumn(
        "prev_status", F.lag("o_orderstatus").over(w)
    ).filter(
        F.col("prev_status").isNull()
        | (F.col("prev_status") != F.col("o_orderstatus"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_day", "o_orderkey")
    intervals = changes.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_day").alias("valid_from"),
        F.lead("o_day").over(w2).alias("valid_to"),
    )
    return (
        intervals.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_intervals"),
            F.count(F.when(F.col("valid_to").isNull(), 1)).alias("n_open"),
            F.round(
                F.avg(F.datediff("valid_to", "valid_from")), 4
            ).alias("avg_days"),
        )
        .orderBy("o_orderstatus")
    )


_SCD2_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_day, o_orderkey,
         LAG(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_status
  FROM orders
),
changes AS (
  SELECT * FROM ordered
  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
),
intervals AS (
  SELECT o_custkey, o_orderstatus, o_day AS valid_from,
         LEAD(o_day) OVER (PARTITION BY o_custkey ORDER BY o_day, o_orderkey) AS valid_to
  FROM changes
)
SELECT o_orderstatus, COUNT(*) AS n_intervals,
       COUNT(CASE WHEN valid_to IS NULL THEN 1 END) AS n_open,
       ROUND(AVG(DATE_DIFF('day', valid_from, valid_to)), 4) AS avg_days
FROM intervals
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def range_frame_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue via a time-RANGE window frame
    (``RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW``) — the
    value-based frame the reference's host engine exposes for time series
    and that differs semantically from a ROWS frame whenever days are
    missing. Runs over the daily pre-aggregate (bounded), SQL-authored
    because the interval-RANGE frame is a SQL-surface feature."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    return spark.sql("""
SELECT day, ROUND(rev, 2) AS rev,
       ROUND(SUM(rev) OVER w, 2) AS rev_7d,
       COUNT(*) OVER w AS n_days_7d
FROM {daily}
WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
ORDER BY day
""", daily=daily)


_RANGE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS rev
  FROM orders GROUP BY 1
)
SELECT day, ROUND(rev, 2) AS rev,
       ROUND(SUM(rev) OVER w, 2) AS rev_7d,
       COUNT(*) OVER w AS n_days_7d
FROM daily
WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
ORDER BY day
"""


#: incremental-maintenance cutoff: rows before it form the materialized
#: state, rows at/after it are the arriving batch (mid-month on purpose, so
#: the merge must actually combine partials inside the boundary month).
_MV_CUTOFF = "1999-06-15"


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly revenue MV is
    updated with an arriving batch by MERGING PARTIAL AGGREGATES — never by
    rescanning history. The 'state' (monthly partials of all orders before
    the cutoff) is materialized once; the batch pass aggregates ONLY the
    new rows (the cutoff predicate pushes into the scan) into the same
    partial shape (sum, count); the merge is a groupBy over
    state ∪ batch-partials — a shuffle of two MONTHLY summaries, not data.

    This works because sum/count are commutative monoids (the same algebra
    Spark itself exploits for partial aggregation); avg is derived at
    presentation as merged_sum / merged_count. The oracle recomputes from
    scratch, proving merged-incremental ≡ full recompute. At 100 TB the
    state side is a few thousand rows regardless of corpus size and the
    batch scan is bounded by the arrival rate."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_day"),
    )
    cutoff = F.lit(_MV_CUTOFF).cast("date")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.sum("o_totalprice").alias("p_sum"),
            F.count(F.lit(1)).alias("p_n"),
        )

    # materialized state: in production this is a table on disk; the
    # localCheckpoint stands in for "already computed, never rescanned"
    state = materialize(partials(orders.filter(F.col("o_day") < cutoff)))
    batch = partials(orders.filter(F.col("o_day") >= cutoff))
    merged = (
        state.unionByName(batch)
        .groupBy("month")
        .agg(F.sum("p_sum").alias("m_sum"), F.sum("p_n").alias("m_n"))
    )
    return merged.select(
        "month",
        F.col("m_n").alias("n_orders"),
        F.round("m_sum", 2).alias("revenue"),
        # div-safe: m_n is a sum of GROUP BY counts, always >= 1
        F.round(F.col("m_sum") / F.col("m_n"), 2).alias("avg_price"),
    ).orderBy("month")


_MV_MERGE_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
       ROUND(SUM(o_totalprice) / COUNT(*), 2) AS avg_price
FROM orders
GROUP BY 1
ORDER BY 1
"""


def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join: every event joined to the SCD2 dimension
    version valid AT ITS EVENT TIME — the temporal-correctness join that
    separates a leakage-free feature pipeline from one that trains on
    future attribute values. Events before a customer's first interval get
    status 'NONE' (left semantics).

    Scalable shape: no inequality join. The dimension's interval STARTS and
    the events union into one stream per customer; a single
    ``last(status, ignorenulls)`` window (dim rows sort before same-day
    events) assigns each event the latest interval started on or before its
    day — one shuffle on the entity key, O(1) state per row, the same
    union-window as-of pattern as ``asof_join_prior_click``. Output is the
    bounded (event_type × status) census."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("o_day"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("o_day", "o_orderkey")
    ivals = (
        orders.withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("o_day").alias("day"),
            F.lit(0).alias("ord"),
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.lit(None).cast("string").alias("event_type"),
        )
    )
    evs = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("cust"),
        F.to_date("ts").alias("day"),
        F.lit(1).alias("ord"),
        F.col("event_id").alias("k"),
        F.lit(None).cast("string").alias("status"),
        "event_type",
    )
    u = ivals.unionByName(evs)
    pw = (
        Window.partitionBy("cust")
        .orderBy("day", "ord", "k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pit = u.withColumn("pit_status", F.last("status", ignorenulls=True).over(pw))
    return (
        pit.filter(F.col("ord") == 1)
        .groupBy("event_type", F.coalesce("pit_status", F.lit("NONE")).alias("status"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type", "status")
    )


_PIT_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_day, o_orderkey,
         LAG(o_orderstatus) OVER (PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_status
  FROM orders
),
ivals AS (
  SELECT o_custkey AS cust, o_day AS day, 0 AS ord, o_orderkey AS k,
         o_orderstatus AS status, CAST(NULL AS VARCHAR) AS event_type
  FROM ordered
  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
),
evs AS (
  SELECT user_id AS cust, CAST(ts AS DATE) AS day, 1 AS ord, event_id AS k,
         CAST(NULL AS VARCHAR) AS status, event_type
  FROM events
),
u AS (SELECT * FROM ivals UNION ALL SELECT * FROM evs),
pit AS (
  SELECT *, LAST_VALUE(status IGNORE NULLS) OVER (PARTITION BY cust
              ORDER BY day, ord, k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pit_status
  FROM u
)
SELECT event_type, COALESCE(pit_status, 'NONE') AS status,
       COUNT(*) AS n_events
FROM pit WHERE ord = 1
GROUP BY 1, 2
ORDER BY event_type, status
"""


def scd2_status_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted temporal analytics over the SCD2 intervals — the
    "time-in-state" question (`how long does a customer dwell in each
    status, and what order value sits in it?`) that interval tables exist
    to answer and that a plain per-row aggregate gets wrong (it weights by
    transition count, not by elapsed time).

    Reuses `scd2_order_status_history`'s interval construction (two windows
    over ONE customer-keyed Exchange), keeps the CLOSED intervals, and
    reports per status: interval count, total covered days, the status's
    share of all covered days (exact integer ratio), and the
    duration-weighted average opening order price —
    ``SUM(price·days)/SUM(days)`` with the products routed through DECIMAL
    so the sums are addition-order-independent across engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("o_day"),
        "o_orderkey",
        "o_totalprice",
    )
    w = Window.partitionBy("o_custkey").orderBy("o_day", "o_orderkey")
    changes = orders.withColumn(
        "prev_status", F.lag("o_orderstatus").over(w)
    ).filter(
        F.col("prev_status").isNull()
        | (F.col("prev_status") != F.col("o_orderstatus"))
    )
    intervals = changes.select(
        "o_orderstatus",
        "o_totalprice",
        F.datediff(F.lead("o_day").over(w), F.col("o_day")).alias("days"),
    ).filter(F.col("days").isNotNull())
    wall = Window.partitionBy()
    pd_dec = (
        F.col("o_totalprice").cast("decimal(18,2)")
        * F.col("days").cast("decimal(10,0)")
    ).cast("decimal(28,2)")
    per_status = intervals.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_closed"),
        F.sum("days").cast("long").alias("total_days"),
        F.sum(pd_dec).alias("pd_sum"),
    )
    return (
        per_status.select(
            "o_orderstatus",
            "n_closed",
            "total_days",
            # NULLIF guards (r9 div sweep): a status whose every interval is
            # same-day has total_days = 0, and if ALL intervals were
            # same-day the global sum is 0 too — both ratios pin to NULL in
            # both engines instead of Spark-NULL-vs-DuckDB-inf
            F.round(
                F.col("total_days")
                / F.nullif(
                    F.sum("total_days").over(wall).cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("days_share"),
            # both engines cast the exact DECIMAL sum to the same nearest
            # double, then perform ONE IEEE division — bit-identical; a
            # decimal/decimal division would hit engine-specific scale rules
            F.round(
                F.col("pd_sum").cast("double")
                / F.nullif(F.col("total_days").cast("double"), F.lit(0.0)),
                4,
            ).alias("dwell_weighted_price"),
        )
        .orderBy("o_orderstatus")
    )


_DWELL_SQL = """
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_day,
         o_orderkey, o_totalprice,
         LAG(o_orderstatus) OVER w AS prev_status
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
),
changes AS (
  SELECT * FROM ordered
  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
),
intervals AS (
  SELECT o_orderstatus, o_totalprice,
         DATE_DIFF('day', o_day,
                   LEAD(o_day) OVER (PARTITION BY o_custkey
                                     ORDER BY o_day, o_orderkey)) AS days
  FROM changes
),
per_status AS (
  SELECT o_orderstatus,
         COUNT(*) AS n_closed,
         CAST(SUM(days) AS BIGINT) AS total_days,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(days AS DECIMAL(10,0)) AS DECIMAL(28,2))) AS pd_sum
  FROM intervals WHERE days IS NOT NULL
  GROUP BY o_orderstatus
)
SELECT o_orderstatus, n_closed, total_days,
       -- NULLIF mirrors the Spark side's zero-dwell guard
       ROUND(total_days / NULLIF(CAST(SUM(total_days) OVER () AS DOUBLE), 0), 6)
         AS days_share,
       ROUND(CAST(pd_sum AS DOUBLE) / NULLIF(CAST(total_days AS DOUBLE), 0), 4)
         AS dwell_weighted_price
FROM per_status
ORDER BY o_orderstatus
"""


#: cutoff separating the materialized join state from the arriving batch.
_JOIN_MV_CUTOFF = "1997-01-01"


def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-backed materialized view — the
    delta-join rule ``Δ(A ⋈ B) = ΔA ⋈ B`` for an append-only fact and a
    static dimension: the per-segment revenue MV is updated by joining ONLY
    the arriving orders batch to the customer dim (broadcast — map-side,
    no fact shuffle) and merging the resulting partial aggregates into the
    stored state. History is never rescanned and never re-joined.

    Complements `incremental_agg_merge` (aggregate-only maintenance) with
    the join side of IVM. Merge algebra: (sum, count) partials — the same
    commutative monoid Spark's own partial aggregation uses; avg derives
    at presentation. The oracle recomputes the full join from scratch, so
    a driver match PROVES incremental ≡ recompute. At 100 TB: state is
    |segments| rows, the batch join is broadcast, and the only shuffle is
    over two 5-row partial sets."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_day"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cutoff = F.lit(_JOIN_MV_CUTOFF).cast("date")

    def joined_partials(fact: DataFrame) -> DataFrame:
        return (
            fact.join(F.broadcast(cust), fact.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("p_sum"),
                F.count(F.lit(1)).alias("p_n"),
            )
        )

    state = materialize(joined_partials(orders.filter(F.col("o_day") < cutoff)))
    batch = joined_partials(orders.filter(F.col("o_day") >= cutoff))
    return (
        state.unionByName(batch)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("p_n").cast("long").alias("n_orders"),
            F.round(F.sum("p_sum"), 2).cast("double").alias("revenue"),
        )
        .withColumn(
            "avg_price",
            # div-safe: n_orders is COUNT(*) of a GROUP BY group, >= 1
            F.round(F.col("revenue") / F.col("n_orders"), 4),
        )
        .orderBy("c_mktsegment")
    )


_JOIN_MV_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       ROUND(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
             / COUNT(*), 4) AS avg_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


QUERIES = {
    "incremental_join_maintenance": incremental_join_maintenance,
    "merge_cdc_with_deletes": merge_cdc_with_deletes,
    "scd2_status_dwell_stats": scd2_status_dwell_stats,
    "scd2_pointintime_join": scd2_pointintime_join,
    "merge_upsert_latest_orders": merge_upsert_latest_orders,
    "scd2_order_status_history": scd2_order_status_history,
    "range_frame_weekly_revenue": range_frame_weekly_revenue,
    "incremental_agg_merge": incremental_agg_merge,
}

ORACLES = {
    "incremental_join_maintenance": _JOIN_MV_SQL,
    "merge_cdc_with_deletes": _MERGE_DELETES_SQL,
    "scd2_status_dwell_stats": _DWELL_SQL,
    "scd2_pointintime_join": _PIT_SQL,
    "merge_upsert_latest_orders": _MERGE_SQL,
    "scd2_order_status_history": _SCD2_SQL,
    "range_frame_weekly_revenue": _RANGE_SQL,
    "incremental_agg_merge": _MV_MERGE_SQL,
}
