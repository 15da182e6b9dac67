"""Data-quality and observability operators — the Deequ/Great-Expectations
layer a production warehouse runs on every ingest batch, plus the cohort /
anomaly analytics built on the same aggregates. The reference exercises its
host engine's aggregation surface for exactly this kind of audit
(``spark-groupby-analysis.md:6-123``); these queries are the Spark-native
form.

Scale notes:
- the constraint report computes EVERY metric in ONE pass per table
  (a single multi-aggregate projection — no per-constraint scans); the
  verdict projection is driver-free arithmetic on the 1-row metric frame.
- referential integrity is a broadcast-able anti-join count, not an EXISTS
  per row.
- cohort retention is two groupBys on (user, month) — the matrix is
  (cohorts × offsets), bounded by the calendar, so the final pivot-shaped
  aggregate is tiny regardless of event volume.
- anomaly detection aggregates to the DAILY series first (bounded), then
  computes robust stats (median/MAD via exact interpolated percentiles —
  the cross-engine-safe pattern established by order_price_percentiles)
  over that bounded frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_impl_spark.operators import duck_md5_long, materialize, md5_long
from datafusion_impl_spark.sources.registry import load_table

__all__ = ["QUERIES", "ORACLES"]


def table_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed anti-entropy check: order-independent bucketed checksums
    of ``orders`` against a deliberately perturbed replica, the primitive
    behind replica reconciliation / migration verification (compare two
    100 TB copies WITHOUT co-sorting them — a Merkle-style census, fully
    map-side + one tiny aggregate, no join of the two tables).

    Every row hashes to a portable 60-bit md5 value over its business
    columns; rows are assigned to 16 buckets by hash and each bucket keeps
    (count, sum of hash mod p). The replica drops one known row and rewrites
    the status of another, so exactly the buckets owning those rows must
    mismatch — localizing the damage to 2/16 of the keyspace, which is the
    point of bucketing (re-sync ships only the damaged buckets).

    The modular sum uses p = 1e9+7: 60-bit hash % p < 2^30, so even billions
    of rows per bucket stay far from BIGINT overflow — overflow-safe at
    100 TB, where a raw SUM of 60-bit hashes would wrap."""
    orders = load_table(spark, sf_dir, "orders")
    key = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
    )

    def census(df: DataFrame, side: str) -> DataFrame:
        h = md5_long(key).alias("h")
        hashed = df.select(h)
        return hashed.select(
            (F.col("h") % 16).cast("int").alias("bucket"),
            (F.col("h") % 1000000007).alias("hm"),
        ).groupBy("bucket").agg(
            F.count(F.lit(1)).alias(f"n_{side}"),
            F.sum("hm").alias(f"sum_{side}"),
        )

    # replica: one row deleted (min key), one row's status corrupted (max
    # key) — damage keys derived from the data itself so the query survives
    # any testdata regeneration (TPC-H orderkeys are sparse; fixed literals
    # could vanish between rounds)
    bounds = orders.agg(
        F.min("o_orderkey").alias("k_min"), F.max("o_orderkey").alias("k_max")
    )
    keyed = orders.crossJoin(F.broadcast(bounds))
    replica = (
        keyed.filter(F.col("o_orderkey") != F.col("k_min"))
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") == F.col("k_max"), F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .drop("k_min", "k_max")
    )
    a, b = census(orders, "a"), census(replica, "b")
    return (
        a.join(b, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0).cast("long")).alias("n_a"),
            F.coalesce("n_b", F.lit(0).cast("long")).alias("n_b"),
            F.coalesce("sum_a", F.lit(0).cast("long")).alias("sum_a"),
            F.coalesce("sum_b", F.lit(0).cast("long")).alias("sum_b"),
            (
                (F.coalesce("n_a", F.lit(0)) == F.coalesce("n_b", F.lit(0)))
                & (F.coalesce("sum_a", F.lit(0)) == F.coalesce("sum_b", F.lit(0)))
            ).alias("match"),
        )
        .orderBy("bucket")
    )


def _checksum_oracle() -> str:
    key = (
        "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' "
        "|| o_orderstatus || '|' || CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)"
    )
    h = duck_md5_long(f"({key})")
    return f"""
WITH a_h AS (SELECT {h} AS h FROM orders),
bounds AS (
  SELECT MIN(o_orderkey) AS k_min, MAX(o_orderkey) AS k_max FROM orders
),
b_src AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey = k_max THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM orders, bounds WHERE o_orderkey <> k_min
),
b_h AS (SELECT {h} AS h FROM b_src),
a AS (
  SELECT CAST(h % 16 AS INTEGER) AS bucket, COUNT(*) AS n_a,
         SUM(h % 1000000007) AS sum_a
  FROM a_h GROUP BY 1
),
b AS (
  SELECT CAST(h % 16 AS INTEGER) AS bucket, COUNT(*) AS n_b,
         SUM(h % 1000000007) AS sum_b
  FROM b_h GROUP BY 1
)
SELECT bucket,
       CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
       CAST(COALESCE(sum_a, 0) AS BIGINT) AS sum_a,
       CAST(COALESCE(sum_b, 0) AS BIGINT) AS sum_b,
       (COALESCE(n_a, 0) = COALESCE(n_b, 0)
        AND COALESCE(sum_a, 0) = COALESCE(sum_b, 0)) AS match
FROM a FULL OUTER JOIN b USING (bucket)
ORDER BY bucket
"""


def daily_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type trend line via the SQL regression aggregate family
    (``regr_slope`` / ``regr_intercept`` / ``regr_r2`` — one pass, partials
    merge map-side like any algebraic aggregate): events/day regressed on
    day index. The monitoring primitive behind "is this event type growing
    or decaying, and how linear is it".

    Determinism note: x and y are small exact integers, so every sum of
    products the aggregates need stays below 2^53 and is exact in double —
    slope/intercept/r2 agree bit-for-bit across engines before the ROUND.
    The regression runs over the bounded daily aggregate, never raw events."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("y"))
    base = daily.groupBy("event_type").agg(F.min("day").alias("d0"))
    xy = daily.join(base, "event_type").select(
        "event_type",
        F.datediff("day", "d0").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    return (
        xy.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


_TREND_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
base AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY 1),
xy AS (
  SELECT d.event_type,
         CAST(date_diff('day', b.d0, d.day) AS DOUBLE) AS x,
         CAST(y AS DOUBLE) AS y
  FROM daily d JOIN base b USING (event_type)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(regr_slope(y, x), 6) AS slope,
       ROUND(regr_intercept(y, x), 6) AS intercept,
       ROUND(regr_r2(y, x), 6) AS r2
FROM xy
GROUP BY event_type
ORDER BY event_type
"""


def data_quality_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suite over ``orders`` in ONE scan: each
    constraint row reports its measured metric and PASS/FAIL against a
    declared bound — uniqueness of the key, completeness (non-null rates),
    value ranges, domain membership, and (via one extra anti-join)
    referential integrity of ``o_custkey`` against ``customer``. The
    measured metric travels with the verdict so a failure is diagnosable
    from the report alone."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    n_orphans = (
        orders.select(F.col("o_custkey").alias("k"))
        .join(cust, F.col("k") == F.col("c_custkey"), "left_anti")
        .count()
    )
    m = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.count("o_custkey").alias("nn_cust"),
        F.count("o_orderdate").alias("nn_date"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count_if(~F.col("o_orderstatus").isin("O", "F", "P", "U")).alias(
            "n_bad_status"
        ),
    ).withColumn("n_orphans", F.lit(n_orphans))
    # the metric frame is ONE row; materialize it so the 7 verdict rows
    # project from it without re-running the scan per constraint
    m = materialize(m)
    checks = [
        ("orderkey_unique", F.col("n_keys") == F.col("n_rows"),
         F.col("n_keys").cast("double")),
        # div-safe: n_rows = COUNT(*) of the orders table, >= 1 on a
        # non-empty corpus (both completeness ratios)
        ("custkey_complete", F.col("nn_cust") == F.col("n_rows"),
         F.col("nn_cust") / F.col("n_rows")),
        # div-safe: same n_rows >= 1 invariant as above
        ("orderdate_complete", F.col("nn_date") == F.col("n_rows"),
         F.col("nn_date") / F.col("n_rows")),
        ("price_positive", F.col("min_price") > 0,
         F.col("min_price").cast("double")),
        ("price_below_cap", F.col("max_price") < 1_000_000,
         F.col("max_price").cast("double")),
        ("status_in_domain", F.col("n_bad_status") == 0,
         F.col("n_bad_status").cast("double")),
        ("custkey_ref_integrity", F.col("n_orphans") == 0,
         F.col("n_orphans").cast("double")),
    ]
    report = None
    for name, ok, metric in checks:
        row = m.select(
            F.lit(name).alias("check_name"),
            F.when(ok, "PASS").otherwise("FAIL").alias("status"),
            F.round(metric, 4).alias("metric"),
        )
        report = row if report is None else report.unionByName(row)
    return report.orderBy("check_name")


_QUALITY_SQL = """
WITH m AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(DISTINCT o_orderkey) AS n_keys,
         COUNT(o_custkey) AS nn_cust,
         COUNT(o_orderdate) AS nn_date,
         MIN(o_totalprice) AS min_price,
         MAX(o_totalprice) AS max_price,
         count_if(o_orderstatus NOT IN ('O', 'F', 'P', 'U')) AS n_bad_status,
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)) AS n_orphans
  FROM orders
)
SELECT * FROM (
  SELECT 'orderkey_unique' AS check_name, CASE WHEN n_keys = n_rows THEN 'PASS' ELSE 'FAIL' END AS status, ROUND(CAST(n_keys AS DOUBLE), 4) AS metric FROM m
  UNION ALL
  -- div-safe: n_rows = COUNT(*) of orders, >= 1 (both ratios)
  SELECT 'custkey_complete', CASE WHEN nn_cust = n_rows THEN 'PASS' ELSE 'FAIL' END, ROUND(nn_cust / CAST(n_rows AS DOUBLE), 4) FROM m
  UNION ALL
  SELECT 'orderdate_complete', CASE WHEN nn_date = n_rows THEN 'PASS' ELSE 'FAIL' END, ROUND(nn_date / CAST(n_rows AS DOUBLE), 4) FROM m
  UNION ALL
  SELECT 'price_positive', CASE WHEN min_price > 0 THEN 'PASS' ELSE 'FAIL' END, ROUND(CAST(min_price AS DOUBLE), 4) FROM m
  UNION ALL
  SELECT 'price_below_cap', CASE WHEN max_price < 1000000 THEN 'PASS' ELSE 'FAIL' END, ROUND(CAST(max_price AS DOUBLE), 4) FROM m
  UNION ALL
  SELECT 'status_in_domain', CASE WHEN n_bad_status = 0 THEN 'PASS' ELSE 'FAIL' END, ROUND(CAST(n_bad_status AS DOUBLE), 4) FROM m
  UNION ALL
  SELECT 'custkey_ref_integrity', CASE WHEN n_orphans = 0 THEN 'PASS' ELSE 'FAIL' END, ROUND(CAST(n_orphans AS DOUBLE), 4) FROM m
)
ORDER BY check_name
"""


def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the event stream: users are cohorted by
    first-active week, and each (cohort, week-offset) cell counts users
    still active that many weeks later, with the retention rate against the
    cohort's size. The canonical product-analytics shape: two groupBys on
    (user, week) — event volume collapses before anything wide happens."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    )
    user_weeks = ev.distinct()
    cohort = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    cells = (
        user_weeks.join(cohort, "user_id")
        .select(
            "cohort_week",
            F.floor(F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        cells.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            # div-safe: a cohort exists only with >= 1 member
            F.round(F.col("n_active") / F.col("cohort_size"), 4).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


_COHORT_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
),
cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size FROM cohort GROUP BY cohort_week
),
cells AS (
  SELECT c.cohort_week,
         CAST(FLOOR(DATE_DIFF('day', c.cohort_week, uw.week) / 7.0) AS INTEGER) AS week_offset,
         COUNT(DISTINCT uw.user_id) AS n_active
  FROM uw JOIN cohort c ON uw.user_id = c.user_id
  GROUP BY 1, 2
)
SELECT cells.cohort_week, week_offset, n_active, sizes.cohort_size,
       -- div-safe: a cohort exists only with >= 1 member
       ROUND(n_active / CAST(sizes.cohort_size AS DOUBLE), 4) AS retention
FROM cells JOIN sizes ON cells.cohort_week = sizes.cohort_week
ORDER BY 1, 2
"""


#: robust z-score flag threshold (|x - median| / MAD_sigma).
_ANOMALY_Z = 3.0


def daily_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on the daily revenue series: flag days
    whose revenue deviates from the MEDIAN by more than ``3 × 1.4826·MAD``
    (median absolute deviation) — the outlier gate that, unlike mean/stddev
    z-scores, is not dragged by the outliers it is hunting. Median and MAD
    are exact interpolated percentiles over the bounded daily frame (the
    cross-engine-safe pattern from order_price_percentiles). Output: the
    monthly anomaly summary plus global stats, so the frame stays bounded
    and the flags are auditable."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    stats = daily.agg(
        F.expr("percentile(rev, 0.5)").alias("med")
    )
    with_dev = daily.crossJoin(F.broadcast(stats)).withColumn(
        "absdev", F.abs(F.col("rev") - F.col("med"))
    )
    mad = with_dev.agg(F.expr("percentile(absdev, 0.5)").alias("mad"))
    flagged = (
        with_dev.crossJoin(F.broadcast(mad))
        .withColumn(
            "is_anomaly",
            F.col("absdev") > _ANOMALY_Z * 1.4826 * F.col("mad"),
        )
    )
    return (
        flagged.groupBy(F.date_trunc("month", "day").cast("date").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count_if(F.col("is_anomaly")).alias("n_anomalies"),
            F.round(F.max("rev"), 2).alias("max_rev"),
            F.round(F.min("rev"), 2).alias("min_rev"),
        )
        .orderBy("month")
    )


_ANOMALY_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1
),
med AS (SELECT quantile_cont(rev, 0.5) AS med FROM daily),
dev AS (
  SELECT day, rev, ABS(rev - med.med) AS absdev FROM daily, med
),
mad AS (SELECT quantile_cont(absdev, 0.5) AS mad FROM dev),
flagged AS (
  SELECT day, rev, absdev > {_ANOMALY_Z} * 1.4826 * mad.mad AS is_anomaly
  FROM dev, mad
)
SELECT CAST(date_trunc('month', day) AS DATE) AS month,
       COUNT(*) AS n_days,
       CAST(count_if(is_anomaly) AS BIGINT) AS n_anomalies,
       ROUND(MAX(rev), 2) AS max_rev,
       ROUND(MIN(rev), 2) AS min_rev
FROM flagged
GROUP BY 1
ORDER BY month
"""


def weekly_seasonality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily revenue: trend = centered
    29-day moving average (RANGE frame over the bounded daily series),
    seasonal = mean detrended value per day-of-week, residual = the rest.
    Output per day-of-week: the seasonal effect and residual spread — the
    decomposition behind 'is Monday really 12% low, or is that trend?'.

    All frames run over the daily pre-aggregate; the day-of-week means
    divide ROUNDed sums by counts, keeping every reported value
    cross-engine exact."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    return spark.sql("""
WITH trended AS (
  SELECT day, rev,
         ROUND(AVG(rev) OVER (ORDER BY day
           RANGE BETWEEN INTERVAL 14 DAYS PRECEDING AND INTERVAL 14 DAYS FOLLOWING), 2)
           AS trend
  FROM {daily}
),
detrended AS (
  SELECT dayofweek(day) AS dow, day, rev, trend,
         ROUND(rev - trend, 2) AS detr
  FROM trended
)
SELECT dow, COUNT(*) AS n_days,
       ROUND(AVG(detr), 2) AS seasonal_effect,
       ROUND(AVG(ABS(detr)), 2) AS mean_abs_detrended,
       ROUND(MIN(detr), 2) AS min_detr,
       ROUND(MAX(detr), 2) AS max_detr
FROM detrended
GROUP BY dow
ORDER BY dow
""", daily=daily)


_SEASONALITY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1
),
trended AS (
  SELECT day, rev,
         ROUND(AVG(rev) OVER (ORDER BY day
           RANGE BETWEEN INTERVAL 14 DAYS PRECEDING AND INTERVAL 14 DAYS FOLLOWING), 2)
           AS trend
  FROM daily
),
detrended AS (
  SELECT CAST(dayofweek(day) + 1 AS INTEGER) AS dow, rev, trend,
         ROUND(rev - trend, 2) AS detr
  FROM trended
)
SELECT dow, COUNT(*) AS n_days,
       ROUND(AVG(detr), 2) AS seasonal_effect,
       ROUND(AVG(ABS(detr)), 2) AS mean_abs_detrended,
       ROUND(MIN(detr), 2) AS min_detr,
       ROUND(MAX(detr), 2) AS max_detr
FROM detrended
GROUP BY dow
ORDER BY dow
"""


#: PSI severity conventions: <0.1 stable, 0.1-0.25 moderate, >0.25 major.
_PSI_BINS = 10


def length_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots' length
    distributions — the drift monitor that fires before a retrain: bins
    are fixed equal-width cuts over n_chars, snapshot A (doc_id % 20 != 5)
    is the reference, snapshot B (doc_id % 20 != 0, the corpus-diff twin)
    the current population, and PSI = Σ (pB−pA)·ln(pB/pA). Per-bin
    contributions are emitted alongside the total so the drifting bins
    are identifiable, with the standard severity call.

    Determinism: bin shares are integer-count ratios and both engines
    evaluate the same ln() on the same doubles; everything ROUNDs before
    comparison."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lo_hi = docs.agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
    ).collect()[0]
    lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
    width = max(1, (hi - lo + _PSI_BINS) // _PSI_BINS)
    bin_ = F.least(
        # div-safe: width = max(1, ...) is >= 1 by construction
        F.lit(_PSI_BINS - 1), F.floor((F.col("n_chars") - lo) / width)
    ).cast("int")
    binned = docs.select("doc_id", bin_.alias("bin"))
    a = binned.filter(F.col("doc_id") % 20 != 5).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    b = binned.filter(F.col("doc_id") % 20 != 0).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    tot_a = a.agg(F.sum("n_a").alias("t_a"))
    tot_b = b.agg(F.sum("n_b").alias("t_b"))
    joined = (
        a.join(b, "bin", "full_outer")
        .na.fill({"n_a": 0, "n_b": 0})
        .crossJoin(F.broadcast(tot_a))
        .crossJoin(F.broadcast(tot_b))
    )
    # Laplace-smoothed shares so empty bins stay finite (standard practice)
    # div-safe: Laplace denominators are >= _PSI_BINS > 0, and both
    # smoothed shares are > 0 so the LN ratio below is finite
    p_a = (F.col("n_a") + 1) / (F.col("t_a") + _PSI_BINS)
    p_b = (F.col("n_b") + 1) / (F.col("t_b") + _PSI_BINS)
    contrib = (p_b - p_a) * F.log(p_b / p_a)
    per_bin = joined.select(
        "bin", "n_a", "n_b", F.round(contrib, 8).alias("psi_contrib")
    )
    total = per_bin.agg(F.round(F.sum("psi_contrib"), 6).alias("psi"))
    return (
        per_bin.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n_a",
            "n_b",
            "psi_contrib",
            "psi",
            F.when(F.col("psi") < 0.1, "stable")
            .when(F.col("psi") < 0.25, "moderate_drift")
            .otherwise("major_drift")
            .alias("verdict"),
        )
        .orderBy("bin")
    )


def _psi_oracle() -> str:
    return f"""
WITH bounds AS (
  SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents
),
binned AS (
  SELECT doc_id,
         CAST(LEAST({_PSI_BINS - 1},
              -- div-safe: hi >= lo, so the integer width is >= 1
              FLOOR((n_chars - b.lo) / ((b.hi - b.lo + {_PSI_BINS}) // {_PSI_BINS})))
              AS INTEGER) AS bin
  FROM documents, bounds b
),
a AS (SELECT bin, COUNT(*) AS n_a FROM binned WHERE doc_id % 20 <> 5 GROUP BY bin),
b2 AS (SELECT bin, COUNT(*) AS n_b FROM binned WHERE doc_id % 20 <> 0 GROUP BY bin),
j AS (
  SELECT COALESCE(a.bin, b2.bin) AS bin,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         (SELECT SUM(n_a) FROM a) AS t_a,
         (SELECT SUM(n_b) FROM b2) AS t_b
  FROM a FULL OUTER JOIN b2 ON a.bin = b2.bin
),
per_bin AS (
  SELECT bin, n_a, n_b,
         -- div-safe: Laplace denominators >= bins > 0; shares > 0
         ROUND(((n_b + 1) / CAST(t_b + {_PSI_BINS} AS DOUBLE)
                - (n_a + 1) / CAST(t_a + {_PSI_BINS} AS DOUBLE))
               * LN(((n_b + 1) / CAST(t_b + {_PSI_BINS} AS DOUBLE))
                    / ((n_a + 1) / CAST(t_a + {_PSI_BINS} AS DOUBLE))), 8) AS psi_contrib
  FROM j
),
total AS (SELECT ROUND(SUM(psi_contrib), 6) AS psi FROM per_bin)
SELECT bin, n_a, n_b, psi_contrib, total.psi,
       CASE WHEN total.psi < 0.1 THEN 'stable'
            WHEN total.psi < 0.25 THEN 'moderate_drift'
            ELSE 'major_drift' END AS verdict
FROM per_bin, total
ORDER BY bin
"""


#: two-sided z critical value at alpha = 0.05.
_AB_Z_CRIT = 1.959963984540054


def ab_experiment_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are assigned to arms by the portable
    md5 hash (reproducible across engines, reruns, and partitionings —
    never `rand()`), and per event type the arms' mean event values are
    compared with a two-sample Welch z-test. This is the experimentation
    workload every product warehouse runs nightly; at 100 TB it is one
    groupBy(event_type, arm) with map-side combine — moments, not rows,
    cross the shuffle.

    Numeric discipline: each arm's sum and sum-of-squares go through
    DECIMAL so they are addition-order-independent; mean/variance/z are
    then derived per OUTPUT ROW from identical exact inputs in both
    engines (population-variance formula — engine stddev defaults differ)
    and ROUNDed. The synthetic assignment is real randomization, so the
    expected readout is 'no significant lift' — the z column proves the
    machinery, the boolean pins the conclusion."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    arm = (md5_long(F.col("user_id").cast("string")) % 2 == 0)
    vdec = F.col("value").cast("decimal(18,6)")
    stats = (
        ev.select(
            "event_type",
            F.when(arm, "A").otherwise("B").alias("arm"),
            vdec.alias("v"),
            (vdec * vdec).cast("decimal(28,8)").alias("v2"),
        )
        .groupBy("event_type", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum("v2").alias("s2"),
        )
    )
    a = stats.filter(F.col("arm") == "A").select(
        "event_type",
        F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("s2").alias("s2_a"),
    )
    b = stats.filter(F.col("arm") == "B").select(
        "event_type",
        F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("s2").alias("s2_b"),
    )
    j = a.join(b, "event_type")
    # div-safe: n_a/n_b are GROUP BY counts >= 1 (the join keeps only
    # event types present in BOTH experiment arms)
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    var_a = F.col("s2_a").cast("double") / F.col("n_a") - mean_a * mean_a
    var_b = F.col("s2_b").cast("double") / F.col("n_b") - mean_b * mean_b
    # Zero-variance guard (r5 verdict): when BOTH arms are constant the
    # denominator is 0 — Spark's non-ANSI divide yields NULL while DuckDB
    # evaluates ±inf/NaN. NULLIF the denominator in both engines so z is
    # NULL-by-contract, and pin `significant` to FALSE (no evidence of a
    # lift is not significance). Same recipe as the r4 rolling-corr gate.
    denom = F.nullif(
        F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")), F.lit(0.0)
    )
    z = (mean_b - mean_a) / denom
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(mean_b - mean_a, 6).alias("lift"),
        F.round(z, 4).alias("z_stat"),
        F.coalesce(F.abs(z) > _AB_Z_CRIT, F.lit(False)).alias("significant"),
    ).orderBy("event_type")


def _ab_oracle() -> str:
    h = duck_md5_long("CAST(user_id AS VARCHAR)")
    return f"""
WITH tagged AS (
  SELECT event_type,
         CASE WHEN {h} % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         CAST(value AS DECIMAL(18,6)) AS v,
         CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
              AS DECIMAL(28,8)) AS v2
  FROM events
),
stats AS (
  SELECT event_type, arm, COUNT(*) AS n, SUM(v) AS s, SUM(v2) AS s2
  FROM tagged GROUP BY event_type, arm
),
j AS (
  SELECT a.event_type,
         a.n AS n_a, a.s AS s_a, a.s2 AS s2_a,
         b.n AS n_b, b.s AS s_b, b.s2 AS s2_b
  FROM stats a JOIN stats b USING (event_type)
  WHERE a.arm = 'A' AND b.arm = 'B'
),
m AS (
  SELECT event_type, n_a, n_b,
         -- div-safe: n_a/n_b are GROUP BY counts >= 1
         CAST(s_a AS DOUBLE) / n_a AS mean_a,
         CAST(s_b AS DOUBLE) / n_b AS mean_b,
         CAST(s2_a AS DOUBLE) / n_a - (CAST(s_a AS DOUBLE) / n_a) * (CAST(s_a AS DOUBLE) / n_a) AS var_a,
         CAST(s2_b AS DOUBLE) / n_b - (CAST(s_b AS DOUBLE) / n_b) * (CAST(s_b AS DOUBLE) / n_b) AS var_b
  FROM j
)
SELECT event_type, n_a, n_b,
       ROUND(mean_a, 6) AS mean_a,
       ROUND(mean_b, 6) AS mean_b,
       ROUND(mean_b - mean_a, 6) AS lift,
       ROUND((mean_b - mean_a)
             / NULLIF(SQRT(var_a / n_a + var_b / n_b), 0), 4) AS z_stat,
       COALESCE(ABS((mean_b - mean_a)
                    / NULLIF(SQRT(var_a / n_a + var_b / n_b), 0))
                > {_AB_Z_CRIT!r}, FALSE)
         AS significant
FROM m
ORDER BY event_type
"""


_AB_SQL = _ab_oracle()


#: k-anonymity thresholds the census reports against.
_K_ANON_LEVELS = (2, 5, 10)


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census over quasi-identifiers — the privacy audit run
    before releasing or training on user-adjacent data: group customers by
    the quasi-identifier tuple (nation, market segment, account balance
    rounded to $100) and report, for each k threshold, how many people sit
    in equivalence classes smaller than k (re-identifiable at that k) and
    the suppression cost of enforcing it.

    One groupBy over the QI tuple, then arithmetic over the bounded
    class-size histogram — the class-size census is metadata-sized at any
    corpus scale. Exact integer ratios throughout."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 100) * 100).cast("long").alias("bal_band"),
    )
    classes = cust.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    by_size = classes.groupBy("class_size").agg(
        F.count(F.lit(1)).alias("n_classes")
    )
    by_size = materialize(by_size)
    total = by_size.agg(
        F.sum(F.col("class_size") * F.col("n_classes")).cast("long").alias("n_rows"),
        F.sum("n_classes").cast("long").alias("n_classes_total"),
    )
    rows = []
    for k in _K_ANON_LEVELS:
        below = by_size.filter(F.col("class_size") < k).agg(
            F.coalesce(
                F.sum(F.col("class_size") * F.col("n_classes")), F.lit(0)
            ).cast("long").alias("n_exposed"),
            F.coalesce(F.sum("n_classes"), F.lit(0)).cast("long").alias(
                "n_small_classes"
            ),
        )
        rows.append(
            below.crossJoin(F.broadcast(total)).select(
                F.lit(k).cast("int").alias("k"),
                "n_exposed",
                "n_small_classes",
                # div-safe: n_rows = COUNT(*) of customers, >= 1
                F.round(F.col("n_exposed") / F.col("n_rows"), 6).alias(
                    "exposed_frac"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("k")


_K_ANON_SQL = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 100) * 100 AS BIGINT) AS bal_band
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS class_size
  FROM qi GROUP BY 1, 2, 3
),
by_size AS (
  SELECT class_size, COUNT(*) AS n_classes FROM classes GROUP BY class_size
),
total AS (
  SELECT CAST(SUM(class_size * n_classes) AS BIGINT) AS n_rows FROM by_size
),
ks(k) AS (VALUES {", ".join(f"({k})" for k in _K_ANON_LEVELS)})
SELECT CAST(k AS INTEGER) AS k,
       CAST(COALESCE(SUM(CASE WHEN class_size < k
                              THEN class_size * n_classes END), 0) AS BIGINT)
         AS n_exposed,
       CAST(COALESCE(SUM(CASE WHEN class_size < k THEN n_classes END), 0)
            AS BIGINT) AS n_small_classes,
       ROUND(COALESCE(SUM(CASE WHEN class_size < k
                               THEN class_size * n_classes END), 0)
       -- div-safe: total.n_rows = COUNT(*) of customers, >= 1
             / CAST((SELECT n_rows FROM total) AS DOUBLE), 6) AS exposed_frac
FROM by_size, ks
GROUP BY k
ORDER BY k
"""


def pseudonymize_join_preservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization with referential integrity — the governance
    transform that ships data to analysts: replace the customer key with a
    stable md5-derived surrogate on BOTH the dimension and the fact, then
    PROVE joins still work: the per-segment aggregate computed through the
    surrogate join must equal the raw-key join exactly (oracle = raw-key
    join), and the surrogate must be collision-free (distinct surrogates =
    distinct keys — checked as a theorem column).

    Map-side transform (hashing is codegen), one broadcast-dim join either
    way — pseudonymization adds zero shuffle cost at any scale."""
    cust = load_table(spark, sf_dir, "customer").select(
        md5_long(F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")))
        .alias("surrogate"),
        "c_custkey",
        "c_mktsegment",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        md5_long(F.concat(F.lit("cust:"), F.col("o_custkey").cast("string")))
        .alias("surrogate"),
        "o_totalprice",
    )
    collision_free = cust.agg(
        (F.countDistinct("surrogate") == F.countDistinct("c_custkey")).alias(
            "collision_free"
        )
    )
    joined = orders.join(
        F.broadcast(cust.select("surrogate", "c_mktsegment")), "surrogate"
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .crossJoin(F.broadcast(collision_free))
        .orderBy("c_mktsegment")
    )


_PSEUDONYM_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS revenue,
       TRUE AS collision_free
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


#: Z-order geometry: 8 bits per dimension → 16-bit z-values; files are
#: z-prefix blocks (z >> 8 → up to 256 files), the linear baseline targets
#: the same file count; 8 fixed range probes measure skipping.
_Z_BITS = 8
_Z_FILE_SHIFT = 8
_Z_N_FILES = 256
_Z_N_PROBES = 8


def zorder_layout_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data layout, measured — the Delta/Iceberg ``OPTIMIZE
    ZORDER BY`` story quantified instead of asserted: lay ``orders`` out
    in files two ways — interleaved-bit (Morton) order on (customer,
    order date) vs single-key insertion order — record each file's
    per-column min/max (exactly what parquet footers store), replay 8
    two-dimensional range probes against those stats, and report how many
    files each layout lets the scanner SKIP. Z-order files are compact
    rectangles in key space, so 2-D predicates touch ~√F of them; linear
    files span the full date range each, so a date-constrained probe
    touches almost everything with a matching customer range.

    Plan shape: entirely map-side quantization + two tiny aggregates (one
    per layout, ≤ {files} groups); file ids come from z-VALUE PREFIXES
    (``z >> {shift}``), not a global sort — the real clustered-write
    mapping, and the reason no unbounded Sort appears in the plan. All
    grid math is integer (``div``), bit-exact in both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("dy"),
    )
    bounds = orders.agg(
        F.min("o_custkey").alias("cmn"), F.max("o_custkey").alias("cmx"),
        F.min("dy").alias("dmn"), F.max("dy").alias("dmx"),
        F.min("o_orderkey").alias("kmn"), F.max("o_orderkey").alias("kmx"),
    )
    b = orders.crossJoin(F.broadcast(bounds))
    grid = 1 << _Z_BITS
    gx = F.expr(f"(o_custkey - cmn) * {grid} div (cmx - cmn + 1)")
    gy = F.expr(f"(dy - dmn) * {grid} div (dmx - dmn + 1)")
    g = b.select(
        "o_custkey", "dy",
        gx.alias("gx"), gy.alias("gy"),
        F.expr(f"(o_orderkey - kmn) * {_Z_N_FILES} div (kmx - kmn + 1)").alias(
            "f_linear"
        ),
    )
    z = None
    for bit in range(_Z_BITS):
        term = F.shiftleft(
            F.shiftright("gx", bit).bitwiseAND(F.lit(1)), 2 * bit + 1
        ) + F.shiftleft(
            F.shiftright("gy", bit).bitwiseAND(F.lit(1)), 2 * bit
        )
        z = term if z is None else z + term
    g = g.withColumn("f_zorder", F.shiftright(z, _Z_FILE_SHIFT))

    def file_stats(df: DataFrame, col: str, layout: str) -> DataFrame:
        return df.groupBy(F.col(col).alias("file_id")).agg(
            F.min("o_custkey").alias("c_lo"), F.max("o_custkey").alias("c_hi"),
            F.min("dy").alias("d_lo"), F.max("dy").alias("d_hi"),
        ).select(F.lit(layout).alias("layout"), "file_id", "c_lo", "c_hi", "d_lo", "d_hi")

    stats = file_stats(g, "f_zorder", "zorder").unionByName(
        file_stats(g, "f_linear", "linear")
    )
    probes = (
        spark.range(_Z_N_PROBES)
        .withColumnRenamed("id", "probe")
        .crossJoin(F.broadcast(bounds))
        .select(
            "probe",
            F.expr(f"cmn + probe * (cmx - cmn + 1) div {_Z_N_PROBES}").alias("pc_lo"),
            F.expr(
                f"cmn + probe * (cmx - cmn + 1) div {_Z_N_PROBES}"
                f" + (cmx - cmn + 1) div {2 * _Z_N_PROBES}"
            ).alias("pc_hi"),
            F.expr(
                f"dmn + ((probe * 3) % {_Z_N_PROBES}) * (dmx - dmn + 1) div {_Z_N_PROBES}"
            ).alias("pd_lo"),
            F.expr(
                f"dmn + ((probe * 3) % {_Z_N_PROBES}) * (dmx - dmn + 1) div {_Z_N_PROBES}"
                f" + (dmx - dmn + 1) div {2 * _Z_N_PROBES}"
            ).alias("pd_hi"),
        )
    )
    touched = (
        stats.crossJoin(F.broadcast(probes))
        .filter(
            (F.col("c_lo") <= F.col("pc_hi")) & (F.col("c_hi") >= F.col("pc_lo"))
            & (F.col("d_lo") <= F.col("pd_hi")) & (F.col("d_hi") >= F.col("pd_lo"))
        )
        .groupBy("layout", "probe")
        .agg(F.count(F.lit(1)).alias("n_touched"))
    )
    nfiles = stats.groupBy("layout").agg(F.count(F.lit(1)).alias("n_files"))
    universe = nfiles.select("layout", "n_files").crossJoin(
        F.broadcast(probes.select("probe"))
    )
    per_probe = universe.join(touched, ["layout", "probe"], "left").select(
        "layout",
        "n_files",
        F.coalesce("n_touched", F.lit(0)).alias("n_touched"),
    )
    return (
        per_probe.groupBy("layout", "n_files")
        .agg(
            F.round(F.avg("n_touched"), 4).alias("avg_files_touched"),
            # div-safe: every layout writes >= 1 file
            F.round(1 - F.avg(F.col("n_touched") / F.col("n_files")), 4).alias(
                "avg_skip_frac"
            ),
        )
        .select("layout", "n_files", "avg_files_touched", "avg_skip_frac")
        .orderBy("layout")
    )


def _zorder_oracle() -> str:
    grid = 1 << _Z_BITS
    zbits = " + ".join(
        f"(((gx >> {b}) & 1) << {2 * b + 1}) + (((gy >> {b}) & 1) << {2 * b})"
        for b in range(_Z_BITS)
    )
    return f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dy
  FROM orders
),
bounds AS (
  SELECT MIN(o_custkey) AS cmn, MAX(o_custkey) AS cmx,
         MIN(dy) AS dmn, MAX(dy) AS dmx,
         MIN(o_orderkey) AS kmn, MAX(o_orderkey) AS kmx
  FROM o
),
g0 AS (
  SELECT o_custkey, dy,
         (o_custkey - cmn) * {grid} // (cmx - cmn + 1) AS gx,
         (dy - dmn) * {grid} // (dmx - dmn + 1) AS gy,
         (o_orderkey - kmn) * {_Z_N_FILES} // (kmx - kmn + 1) AS f_linear
  FROM o, bounds
),
g AS (SELECT *, ({zbits}) >> {_Z_FILE_SHIFT} AS f_zorder FROM g0),
stats AS (
  SELECT 'zorder' AS layout, f_zorder AS file_id,
         MIN(o_custkey) AS c_lo, MAX(o_custkey) AS c_hi,
         MIN(dy) AS d_lo, MAX(dy) AS d_hi
  FROM g GROUP BY f_zorder
  UNION ALL
  SELECT 'linear', f_linear,
         MIN(o_custkey), MAX(o_custkey), MIN(dy), MAX(dy)
  FROM g GROUP BY f_linear
),
probes AS (
  SELECT i AS probe,
         cmn + i * (cmx - cmn + 1) // {_Z_N_PROBES} AS pc_lo,
         cmn + i * (cmx - cmn + 1) // {_Z_N_PROBES}
           + (cmx - cmn + 1) // {2 * _Z_N_PROBES} AS pc_hi,
         dmn + ((i * 3) % {_Z_N_PROBES}) * (dmx - dmn + 1) // {_Z_N_PROBES} AS pd_lo,
         dmn + ((i * 3) % {_Z_N_PROBES}) * (dmx - dmn + 1) // {_Z_N_PROBES}
           + (dmx - dmn + 1) // {2 * _Z_N_PROBES} AS pd_hi
  FROM (SELECT unnest(generate_series(0, {_Z_N_PROBES - 1})) AS i), bounds
),
touched AS (
  SELECT s.layout, p.probe, COUNT(*) AS n_touched
  FROM stats s JOIN probes p
    ON s.c_lo <= p.pc_hi AND s.c_hi >= p.pc_lo
   AND s.d_lo <= p.pd_hi AND s.d_hi >= p.pd_lo
  GROUP BY s.layout, p.probe
),
nfiles AS (SELECT layout, COUNT(*) AS n_files FROM stats GROUP BY layout),
per_probe AS (
  SELECT n.layout, n.n_files, p.probe, COALESCE(t.n_touched, 0) AS n_touched
  FROM nfiles n CROSS JOIN probes p
  LEFT JOIN touched t ON t.layout = n.layout AND t.probe = p.probe
)
SELECT layout, n_files,
       ROUND(AVG(n_touched), 4) AS avg_files_touched,
       -- div-safe: every layout writes >= 1 file
       ROUND(1 - AVG(CAST(n_touched AS DOUBLE) / n_files), 4) AS avg_skip_frac
FROM per_probe
GROUP BY layout, n_files
ORDER BY layout
"""


_ZORDER_SQL = _zorder_oracle()


#: CUSUM parameters: slack k (in std units) absorbs ordinary noise, alarm
#: threshold h flags an accumulated shift.
_CUSUM_K = 0.5
_CUSUM_H = 4.0


def daily_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily revenue series — the
    classic sequential drift monitor (Page 1954) that catches a sustained
    small SHIFT long before a per-day z-score gate does: one-sided
    cumulative sums S+ = max(0, S+ + z - k) and S- = max(0, S- - z - k)
    alarm when they exceed h.

    The recurrence is window-expressible in closed form: with prefix sums
    P of (z - k), S+(t) = P(t) - min(0, running-min P) — a running sum
    plus a running min over the BOUNDED daily frame (same boundedness
    argument as every quality-series operator here). Determinism: daily
    revenue is exact integer cents; z rounds to 6 from decimal-exact
    moments; the prefixes accumulate the ROUNDED z in DECIMAL, so both
    engines walk identical sequences. Output: monthly alarm census, so
    the frame stays bounded and auditable."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(cents).alias("c"))
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c").cast("decimal(38,4)")).alias("sx"),
        F.sum(
            (F.col("c").cast("decimal(38,4)") * F.col("c")).cast(
                "decimal(38,4)"
            )
        ).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    # Zero-variance guard (same recipe as ab_experiment_analysis above and
    # token_zipf_fit in operators/text.py): an all-equal daily series gives
    # variance 0 — Spark's non-ANSI divide would yield NULL while DuckDB
    # yields ±inf — and the double-cast moment difference can round to a
    # tiny NEGATIVE, making sqrt NaN.  Clamp at 0, NULLIF, so std (and hence
    # z, the prefixes, and every cusum column) pins to NULL consistently in
    # both engines.
    var = F.nullif(
        F.greatest((n * sxx - sx * sx) / (n * n), F.lit(0.0)), F.lit(0.0)
    )
    std = F.sqrt(var)
    z = F.round((F.col("c") - sx / n) / std, 6)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    zed = daily.crossJoin(F.broadcast(mom)).select(
        "day",
        (z - _CUSUM_K).alias("zp"),
        (-z - _CUSUM_K).alias("zn"),
    )
    pref = zed.select(
        "day",
        F.sum(F.round("zp", 6).cast("decimal(24,8)")).over(w).alias("p"),
        F.sum(F.round("zn", 6).cast("decimal(24,8)")).over(w).alias("q"),
    )
    run = pref.select(
        "day",
        F.round(
            (F.col("p") - F.least(F.lit(0).cast("decimal(24,8)"),
                                  F.min("p").over(w))).cast("double"),
            6,
        ).alias("cusum_pos"),
        F.round(
            (F.col("q") - F.least(F.lit(0).cast("decimal(24,8)"),
                                  F.min("q").over(w))).cast("double"),
            6,
        ).alias("cusum_neg"),
    )
    return (
        run.groupBy(
            F.date_trunc("month", "day").cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count_if(F.col("cusum_pos") > _CUSUM_H)
            .cast("long")
            .alias("n_pos_alarms"),
            F.count_if(F.col("cusum_neg") > _CUSUM_H)
            .cast("long")
            .alias("n_neg_alarms"),
            F.round(F.max("cusum_pos"), 6).alias("max_cusum_pos"),
            F.round(F.max("cusum_neg"), 6).alias("max_cusum_neg"),
        )
        .orderBy("month")
    )


_CUSUM_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
  FROM orders GROUP BY 1
),
mom AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(c AS DECIMAL(38,4))) AS sx,
         SUM(CAST(CAST(c AS DECIMAL(38,4)) * c AS DECIMAL(38,4))) AS sxx
  FROM daily
),
zed AS (
  SELECT day,
         -- zero-variance guard: clamp-at-0 + NULLIF, mirroring the Spark
         -- side, so a flat series pins z (and every cusum column) to NULL
         -- in BOTH engines instead of DuckDB's +-inf vs Spark's NULL.
         ROUND((c - CAST(sx AS DOUBLE) / n)
               / sqrt(NULLIF(GREATEST(
                     (n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (n * n),
                     0), 0)),
               6) AS z
  FROM daily, mom
),
pref AS (
  SELECT day,
         SUM(CAST(ROUND(z - {_CUSUM_K}, 6) AS DECIMAL(24,8)))
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p,
         SUM(CAST(ROUND(-z - {_CUSUM_K}, 6) AS DECIMAL(24,8)))
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS q
  FROM zed
),
run AS (
  SELECT day,
         ROUND(CAST(p - LEAST(CAST(0 AS DECIMAL(24,8)),
               MIN(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
               AS DOUBLE), 6) AS cusum_pos,
         ROUND(CAST(q - LEAST(CAST(0 AS DECIMAL(24,8)),
               MIN(q) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
               AS DOUBLE), 6) AS cusum_neg
  FROM pref
)
SELECT CAST(date_trunc('month', day) AS DATE) AS month,
       COUNT(*) AS n_days,
       CAST(count_if(cusum_pos > {_CUSUM_H}) AS BIGINT) AS n_pos_alarms,
       CAST(count_if(cusum_neg > {_CUSUM_H}) AS BIGINT) AS n_neg_alarms,
       ROUND(MAX(cusum_pos), 6) AS max_cusum_pos,
       ROUND(MAX(cusum_neg), 6) AS max_cusum_neg
FROM run
GROUP BY 1
ORDER BY month
"""


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census — the attribute-disclosure audit k-anonymity
    misses (Machanavajjhala et al. 2007): a class can hold >= k people and
    still leak the sensitive attribute if all of them SHARE it. Over the
    ``k_anonymity_audit`` QI minus the sensitive attribute — nation x $100
    balance band, dropping ``c_mktsegment`` because it is exactly the
    attribute this audit treats as sensitive — report
    the full diversity histogram: for each distinct-sensitive-value count
    l, how many classes and customers sit at exactly that diversity — the
    l=1 row is the homogeneity-attack surface (everyone in the class is
    revealed), rows below a policy l are the suppression cost.

    Same scale shape as the k-anonymity census: one groupBy over the QI
    tuple (+ COUNT DISTINCT of one bounded attribute), then arithmetic on
    the metadata-sized histogram. Exact integer ratios."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        (F.floor(F.col("c_acctbal") / 100) * 100).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    classes = cust.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.count_distinct("c_mktsegment").alias("diversity"),
    )
    hist = classes.groupBy("diversity").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_customers"),
    )
    total = hist.agg(F.sum("n_customers").cast("long").alias("n_total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.col("diversity").cast("int").alias("diversity"),
            "n_classes",
            "n_customers",
            # div-safe: n_total = COUNT(*) of customers, >= 1
            F.round(F.col("n_customers") / F.col("n_total"), 6).alias(
                "frac_customers"
            ),
        )
        .orderBy("diversity")
    )


_L_DIVERSITY_SQL = """
WITH classes AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS bal_band,
         COUNT(*) AS class_size,
         COUNT(DISTINCT c_mktsegment) AS diversity
  FROM customer
  GROUP BY 1, 2
),
hist AS (
  SELECT diversity, COUNT(*) AS n_classes, SUM(class_size) AS n_customers
  FROM classes GROUP BY diversity
),
total AS (SELECT SUM(n_customers) AS n_total FROM hist)
SELECT CAST(diversity AS INTEGER) AS diversity,
       CAST(n_classes AS BIGINT) AS n_classes,
       CAST(n_customers AS BIGINT) AS n_customers,
       -- div-safe: n_total = COUNT(*) of customers, >= 1
       ROUND(CAST(n_customers AS DOUBLE) / n_total, 6) AS frac_customers
FROM hist, total
ORDER BY diversity
"""


#: t-closeness policy thresholds audited.
_T_CLOSE_LEVELS = (0.1, 0.2, 0.3, 0.4, 0.5)


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness census — the distribution-disclosure audit l-diversity
    misses (Li, Li & Venkatasubramanian 2007): a class can be l-diverse and
    still leak if its sensitive-value DISTRIBUTION diverges from the
    population's (e.g. 95% of one segment where the population holds 20%).
    Over the l-diversity QI classes (nation × $100 balance band) with
    ``c_mktsegment`` sensitive, compute each class's variational distance
    (the EMD under the uniform ground metric for categorical attributes)
    to the global segment distribution, and report per policy threshold t:
    classes above t, customers in them, and the exposed fraction.

    Cross-engine determinism: the distance is assembled from EXACT integer
    products — ``Σ_v |n_cv·N − n_v·n_c|`` over the class × segment grid —
    and divided once by ``2·n_c·N``, so both engines divide identical
    integers (one IEEE op) before the 6-dp round. (At extreme row counts
    the integer products approach int64 range; a 100 TB deployment would
    lift them to DECIMAL(38), a type change, not a plan change.)

    Scale shape: one groupBy over (QI, segment), one over QI, a 5-row
    broadcast global distribution crossed against the class table (grid =
    |classes| × 5), and threshold arithmetic over the metadata-sized class
    summary."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        (F.floor(F.col("c_acctbal") / 100) * 100).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    cells = cust.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cv")
    )
    classes = cust.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    glob = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_v")
    )
    total = cust.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    grid = (
        classes.crossJoin(F.broadcast(glob))
        .join(cells, ["c_nationkey", "bal_band", "c_mktsegment"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "c_nationkey",
            "bal_band",
            "n_c",
            "n_total",
            F.abs(
                F.coalesce("n_cv", F.lit(0)) * F.col("n_total")
                - F.col("n_v") * F.col("n_c")
            ).alias("term"),
        )
    )
    dist = grid.groupBy("c_nationkey", "bal_band", "n_c", "n_total").agg(
        F.round(
            # div-safe: n_c >= 1 (GROUP BY class size) and n_total >= 1
            F.sum("term") / (2.0 * F.col("n_c") * F.col("n_total")), 6
        ).alias("t_dist")
    )
    dist = materialize(dist)
    base = dist.agg(
        F.sum("n_c").cast("long").alias("n_customers_total"),
        F.count(F.lit(1)).cast("long").alias("n_classes_total"),
    )
    rows = []
    for t in _T_CLOSE_LEVELS:
        above = dist.filter(F.col("t_dist") > t).agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias(
                "n_exposed_classes"
            ),
            F.coalesce(F.sum("n_c"), F.lit(0)).cast("long").alias(
                "n_exposed_customers"
            ),
        )
        rows.append(
            above.crossJoin(F.broadcast(base)).select(
                F.lit(t).alias("t"),
                "n_exposed_classes",
                "n_exposed_customers",
                # div-safe: n_customers_total = COUNT(*) of customers, >= 1
                F.round(
                    F.col("n_exposed_customers") / F.col("n_customers_total"),
                    6,
                ).alias("exposed_frac"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("t")


_T_CLOSE_SQL = f"""
WITH qi AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 100) * 100 AS BIGINT) AS bal_band,
         c_mktsegment
  FROM customer
),
cells AS (
  SELECT c_nationkey, bal_band, c_mktsegment, COUNT(*) AS n_cv
  FROM qi GROUP BY 1, 2, 3
),
classes AS (
  SELECT c_nationkey, bal_band, COUNT(*) AS n_c FROM qi GROUP BY 1, 2
),
gseg AS (SELECT c_mktsegment, COUNT(*) AS n_v FROM qi GROUP BY 1),
total AS (SELECT COUNT(*) AS n_total FROM qi),
grid AS (
  SELECT c.c_nationkey, c.bal_band, c.n_c, t.n_total,
         ABS(COALESCE(ce.n_cv, 0) * t.n_total - g.n_v * c.n_c) AS term
  FROM classes c
  CROSS JOIN gseg g
  CROSS JOIN total t
  LEFT JOIN cells ce
    ON ce.c_nationkey = c.c_nationkey AND ce.bal_band = c.bal_band
   AND ce.c_mktsegment = g.c_mktsegment
),
dist AS (
  SELECT c_nationkey, bal_band, n_c,
         -- div-safe: n_c >= 1 (GROUP BY class size) and n_total >= 1
         ROUND(SUM(term) / (2.0 * n_c * n_total), 6) AS t_dist
  FROM grid GROUP BY c_nationkey, bal_band, n_c, n_total
),
base AS (
  SELECT CAST(SUM(n_c) AS BIGINT) AS n_customers_total FROM dist
),
ts(t) AS (VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in _T_CLOSE_LEVELS)})
SELECT t,
       CAST(COALESCE(SUM(CASE WHEN t_dist > t THEN 1 END), 0) AS BIGINT)
         AS n_exposed_classes,
       CAST(COALESCE(SUM(CASE WHEN t_dist > t THEN n_c END), 0) AS BIGINT)
         AS n_exposed_customers,
       -- div-safe: n_customers_total = COUNT(*) of customers, >= 1
       ROUND(COALESCE(SUM(CASE WHEN t_dist > t THEN n_c END), 0)
             / CAST((SELECT n_customers_total FROM base) AS DOUBLE), 6)
         AS exposed_frac
FROM dist, ts
GROUP BY t
ORDER BY t
"""


#: differential-privacy budget for the histogram release.
_DP_EPS = 1.0
#: per-user contribution cap (the L1 sensitivity of the capped histogram).
_DP_CAP = 3


def dp_laplace_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release, audited — the full DP
    counting pipeline over event types: (1) cap each user's contribution
    per event type at {cap} (bounding the L1 sensitivity — without the cap
    one heavy user shifts a count arbitrarily), (2) aggregate, (3) add
    Laplace({cap}/{eps}) noise. The noise is DETERMINISTIC here: the
    uniform comes from the portable md5 ring keyed by event type and runs
    through the inverse-CDF ``−b·sign(u−½)·ln(1−2|u−½|)`` — so the oracle
    replays the exact release and the audit columns (true count, capped
    count, noise) quantify both the capping bias and the noise error. A
    production release would draw fresh randomness and publish ONLY the
    noisy column; the deterministic ring is the testing harness, not the
    privacy mechanism.

    Scale shape: one (event_type, user) aggregate (two-phase, map-side
    combine), one event-type aggregate over the capped counts, then
    scalar noise arithmetic on the ~10-row histogram. The true-count
    census shares the first scan."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_ue")
    )
    hist = per_user.groupBy("event_type").agg(
        F.sum("n_ue").cast("long").alias("true_count"),
        F.sum(F.least(F.col("n_ue"), F.lit(_DP_CAP))).cast("long").alias(
            "capped_count"
        ),
    )
    u = (
        (md5_long(F.concat(F.lit("dp:"), F.col("event_type"))) % 1000000)
        .cast("double")
        + 0.5
        # div-safe: literal 1e6 denominator
    ) / 1000000.0
    sign = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    b = float(_DP_CAP) / float(_DP_EPS)
    lap = F.round(
        (F.lit(-b) * sign) * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - 0.5)),
        6,
    )
    return hist.select(
        "event_type",
        "true_count",
        "capped_count",
        lap.alias("noise"),
        # no second ROUND: noise is already a 6-dp multiple, so the sum
        # capped_count + noise is exactly representable and identical in
        # both engines; re-rounding a rounded value risks the half-boundary
        # class where HALF_UP (Spark BigDecimal) and double-multiply ROUND
        # (DuckDB) disagree (r13 advice).
        (F.col("capped_count") + lap).alias("noisy_count"),
        F.lit(float(_DP_EPS)).alias("epsilon"),
    ).orderBy("event_type")


dp_laplace_event_histogram.__doc__ = dp_laplace_event_histogram.__doc__.format(
    cap=_DP_CAP, eps=_DP_EPS
)

_DP_HIST_SQL = f"""
WITH per_user AS (
  SELECT event_type, user_id, COUNT(*) AS n_ue
  FROM events GROUP BY 1, 2
),
hist AS (
  SELECT event_type,
         CAST(SUM(n_ue) AS BIGINT) AS true_count,
         CAST(SUM(LEAST(n_ue, {_DP_CAP})) AS BIGINT) AS capped_count
  FROM per_user GROUP BY 1
),
noise AS (
  SELECT event_type, true_count, capped_count,
         -- div-safe: literal 1e6 denominator
         (CAST({duck_md5_long("'dp:' || event_type")} % 1000000 AS DOUBLE)
          + 0.5) / 1000000.0 AS u
  FROM hist
),
lap AS (
  SELECT event_type, true_count, capped_count,
         -- div-safe: cap/eps is a Python-side constant (this is an
         -- injected literal, not an engine division)
         ROUND((-{float(_DP_CAP) / float(_DP_EPS)!r}
                * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END))
               * LN(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noise
  FROM noise
)
SELECT event_type, true_count, capped_count, noise,
       capped_count + noise AS noisy_count,
       {float(_DP_EPS)!r} AS epsilon
FROM lap
ORDER BY event_type
"""


def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / ETL-corruption screen a warehouse runs on monetary
    columns: the observed share of each leading digit 1-9 against the
    Benford expectation log10(1 + 1/d), with per-digit chi-squared
    contributions so the verdict localizes to the digits that diverge.

    Determinism: prices are fixed to exact integer cents with the repo's
    standard floor(x*100 + 0.5) (identical IEEE in both engines); the
    leading digit comes from integer string length + integer division —
    never log10 of a double, whose last-bit wobble at exact powers of ten
    could flip a digit cross-engine. The Benford share itself rounds to 6
    before the chi-squared terms, so the only transcendental (ln) is
    rounded before reuse.

    Scale shape: one scan, 9-group aggregate; a broadcast-size 1-row total
    joined back for shares. TPC-H totals are NOT Benford-distributed
    (they're sums of uniform-ish parts, concentrating around the mean) —
    the audit correctly reports that divergence, which is exactly its job
    on synthetic data."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.floor(
        # div-safe: POW(10, len-1) > 0 always
        cents / F.pow(F.lit(10.0), (F.length(cents.cast("string")) - 1))
    ).cast("int")
    per_digit = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = per_digit.agg(F.sum("n_orders").alias("n_total"))
    benford = F.round(
        # div-safe: leading digit of a positive price is in 1..9
        F.log(10.0, 1.0 + 1.0 / F.col("digit")), 6
    )
    # div-safe: n_total sums group counts >= 1; expect_n below is
    # benford_share * n_total > 0
    obs = F.col("n_orders") / F.col("n_total")
    expect_n = F.col("benford_share") * F.col("n_total")
    return (
        per_digit.crossJoin(F.broadcast(tot))
        .withColumn("benford_share", benford)
        .select(
            "digit",
            "n_orders",
            F.round(obs, 6).alias("observed_share"),
            "benford_share",
            F.round(
                # div-safe: expect_n = benford_share * n_total > 0
                F.pow(F.col("n_orders") - expect_n, 2) / expect_n, 4
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_BENFORD_SQL = """
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders
),
per_digit AS (
  -- div-safe: power(10, len-1) > 0 always
  SELECT CAST(floor(c / power(10.0, length(CAST(c AS VARCHAR)) - 1)) AS INTEGER)
           AS digit,
         COUNT(*) AS n_orders
  FROM cents GROUP BY 1
),
tot AS (SELECT SUM(n_orders) AS n_total FROM per_digit)
SELECT digit,
       n_orders,
       -- div-safe: n_total >= 1; digit in 1..9; the chi2 denominator is
       -- benford_share * n_total > 0
       ROUND(CAST(n_orders AS DOUBLE) / n_total, 6) AS observed_share,
       ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_share,
       -- div-safe: chi2 denominator = benford_share * n_total > 0
       ROUND(power(n_orders - ROUND(log10(1.0 + 1.0 / digit), 6) * n_total, 2)
             / (ROUND(log10(1.0 + 1.0 / digit), 6) * n_total), 4) AS chi2_term
FROM per_digit, tot
ORDER BY digit
"""


# --------------------------------------------------------------------------
# Per-user contribution capping (DP-style contribution bounding)
# --------------------------------------------------------------------------

#: max events any single user may contribute to the training extract.
_CONTRIB_CAP = 50


def user_contribution_capping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CONTRIBUTION BOUNDING — the privacy/robustness gate every
    user-generated training extract runs before anything else (and the
    prerequisite of any DP accounting: sensitivity is only defined once one
    user's contribution is capped): each user keeps at most
    ``_CONTRIB_CAP`` events, selected deterministically (earliest by
    ``(ts, event_id)`` — re-runs keep the SAME events, so lineage is
    stable). The report audits the cap per event type: events before/after,
    how many CAPPED USERS contributed to the type, and the retained
    fraction — the skew diagnosis (a type dominated by few heavy users
    loses the most mass).

    Scale shape: one window rank per user (single shuffle on user_id —
    bounded state per key, no global sort), then a 6-row per-type
    aggregate. At 100 TB this is the standard contribution-bounding pass;
    hot users are exactly the rows the cap removes, so the post-cap join
    key is UNSKEWED by construction."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rk", F.row_number().over(w))
    capped_users = (
        ranked.groupBy("user_id")
        .agg(F.max("rk").alias("n_user"))
        .filter(F.col("n_user") > _CONTRIB_CAP)
        .select("user_id")
    )
    flagged = ranked.join(
        F.broadcast(capped_users.withColumn("is_capped", F.lit(1))),
        "user_id",
        "left",
    )
    kept = F.col("rk") <= _CONTRIB_CAP
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events_before"),
            F.sum(kept.cast("int")).cast("long").alias("n_events_after"),
            F.countDistinct(
                F.when(F.col("is_capped") == 1, F.col("user_id"))
            ).cast("long").alias("n_capped_users"),
            F.round(
                # div-safe: COUNT of a GROUP BY group is >= 1
                F.sum(kept.cast("int")) / F.count(F.lit(1)),
                6,
            ).alias("retained_frac"),
        )
        .orderBy("event_type")
    )


_CONTRIB_CAP_SQL = f"""
WITH ranked AS (
  SELECT event_type, user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
  FROM events
),
capped AS (
  SELECT user_id FROM ranked GROUP BY user_id
  HAVING MAX(rk) > {_CONTRIB_CAP}
)
SELECT r.event_type,
       COUNT(*) AS n_events_before,
       CAST(SUM(CASE WHEN r.rk <= {_CONTRIB_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_events_after,
       CAST(COUNT(DISTINCT CASE WHEN c.user_id IS NOT NULL
                                THEN r.user_id END) AS BIGINT)
         AS n_capped_users,
       -- div-safe: COUNT(*) of a GROUP BY group is >= 1
       ROUND(SUM(CASE WHEN r.rk <= {_CONTRIB_CAP} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS retained_frac
FROM ranked r LEFT JOIN capped c ON c.user_id = r.user_id
GROUP BY r.event_type
ORDER BY r.event_type
"""


# --------------------------------------------------------------------------
# DP quantile release via the EXPONENTIAL MECHANISM (r14) — the second half
# of the DP toolkit next to the Laplace histogram: selecting from a
# candidate set with utility-proportional noise (McSherry-Talwar 2007;
# quantile utility per Smith 2011)
# --------------------------------------------------------------------------

#: privacy budget per released quantile.
_DPQ_EPS = 1.0
#: candidate grid: {bins} fixed intervals of {width} cents over the
#: clamped domain [0, bins*width) — clamping bounds the rank sensitivity
#: exactly like the Laplace histogram's contribution cap.
_DPQ_BINS = 60
_DPQ_WIDTH = 1_000_000          # $10k in cents
#: released quantiles as twentieths (integers keep the rank utility exact:
#: u = −|20·cum_below − k·n| is computed in scaled integer units).
_DPQ_QK = (5, 10, 15, 18)       # q = 0.25, 0.50, 0.75, 0.90
#: scaled-unit sensitivity: one record moves cum_below by ≤1 → scaled
#: utility by ≤20, so the mechanism scores eps·u/(2·20).
_DPQ_SENS = 20


def dp_exponential_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private QUANTILE release via the exponential
    mechanism, audited — the selection half of the DP toolkit (the Laplace
    histogram covers counting): clamp order totals (exact integer cents)
    into a fixed {bins}-interval grid, give every interval the quantile
    rank utility ``u_i = −|20·cum_below_i − k·n|`` (integer-exact in
    twentieths, sensitivity {sens}), and release
    ``argmax_i [ eps·u_i/(2·{sens}) + Gumbel_i ]`` — the Gumbel-max trick
    IS sampling from the exponential-mechanism distribution, and here the
    Gumbel comes from the portable md5 ring keyed by (quantile, interval)
    so the DuckDB oracle replays the exact release. Per quantile the audit
    reports the released interval, its true rank error (the mechanism's
    actual miss, in scaled units), and the best achievable error — the
    utility-loss accounting a privacy team reviews before publishing. A
    production release would draw fresh Gumbels and publish ONLY the
    released bounds; the deterministic ring is the testing harness.

    Scale shape: one scan → {bins}-row histogram (two-phase, map-side
    combine), a bounded-window cumulative over the {bins} rows, a
    {bins}×{nq} scored grid, and per-quantile struct-max argmaxes — model
    arithmetic on a bounded table, never a per-row pass per candidate."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    binned = orders.select(
        F.least(
            F.lit(_DPQ_BINS - 1),
            F.greatest(F.lit(0), F.floor(cents / F.lit(_DPQ_WIDTH))),
        ).cast("long").alias("b")
    )
    hist = binned.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    grid = spark.range(_DPQ_BINS).select(F.col("id").alias("b"))
    full = grid.join(hist, "b", "left").select(
        "b", F.coalesce("c", F.lit(0)).alias("c")
    )
    # bounded window: cum_below_i = #records in intervals < i (60 rows)
    cum = full.select(
        "b",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("b").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("below"),
    )
    n_tot = binned.agg(F.count(F.lit(1)).alias("n"))
    qk = spark.range(len(_DPQ_QK)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _DPQ_QK]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    scored = (
        cum.crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(qk))
        .select(
            "k",
            "b",
            (-F.abs(F.lit(20) * F.col("below") - F.col("k") * F.col("n")))
            .alias("u"),
            "n",
        )
    )
    u01 = (
        (
            md5_long(
                F.concat(
                    F.lit("dpq:"), F.col("k"), F.lit(":"), F.col("b")
                )
            ) % 1000000
        ).cast("double") + 0.5
        # div-safe: literal 1e6 denominator
    ) / 1000000.0
    gumbel = -F.log(-F.log(u01))
    score = F.round(
        F.lit(float(_DPQ_EPS)) * F.col("u")
        / F.lit(2.0 * _DPQ_SENS)
        + gumbel,
        6,
    )
    released = scored.select(
        "k", "n",
        F.struct(
            score.alias("s"), (-F.col("b")).alias("nb"), F.col("b"),
            (-F.col("u")).alias("err"),
        ).alias("cand"),
        (-F.col("u")).alias("abs_err"),
    ).groupBy("k", "n").agg(
        F.max("cand").alias("win"),
        F.min("abs_err").alias("best_err"),
    )
    return released.select(
        # div-safe: literal 20 denominator
        F.round(F.col("k") / 20.0, 2).alias("q"),
        F.col("n").alias("n_orders"),
        (F.col("win.b") * _DPQ_WIDTH).alias("released_lo_cents"),
        ((F.col("win.b") + 1) * _DPQ_WIDTH).alias("released_hi_cents"),
        F.col("win.err").alias("released_rank_err20"),
        F.col("best_err").alias("best_rank_err20"),
        F.lit(float(_DPQ_EPS)).alias("epsilon"),
    ).orderBy("q")


dp_exponential_quantiles.__doc__ = dp_exponential_quantiles.__doc__.format(
    bins=_DPQ_BINS, sens=_DPQ_SENS, nq=len(_DPQ_QK)
)

_DPQ_SQL = f"""
WITH cents AS (
  SELECT LEAST({_DPQ_BINS - 1},
               GREATEST(0, CAST(floor(
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 -- div-safe: literal width denominator
                 / {_DPQ_WIDTH}) AS BIGINT))) AS b
  FROM orders
),
hist AS (SELECT b, COUNT(*) AS c FROM cents GROUP BY b),
grid AS (SELECT unnest(generate_series(0, {_DPQ_BINS - 1})) AS b),
cum AS (
  SELECT g.b,
         COALESCE(SUM(h.c) OVER (
           ORDER BY g.b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS below
  FROM grid g LEFT JOIN hist h ON h.b = g.b
),
n_tot AS (SELECT COUNT(*) AS n FROM cents),
qs(k) AS (VALUES {", ".join(f"({k})" for k in _DPQ_QK)}),
scored AS (
  SELECT q.k, c.b, t.n,
         -ABS(20 * c.below - q.k * t.n) AS u,
         ROUND({float(_DPQ_EPS)!r} * (-ABS(20 * c.below - q.k * t.n))
               -- div-safe: literal 2*sens denominator
               / {2.0 * _DPQ_SENS!r}
               + (-LN(-LN(
                   (CAST({duck_md5_long(
                       "'dpq:' || q.k || ':' || c.b"
                   )} % 1000000 AS DOUBLE) + 0.5)
                   -- div-safe: literal 1e6 denominator
                   / 1000000.0
               ))), 6) AS score
  FROM cum c CROSS JOIN qs q CROSS JOIN n_tot t
),
win AS (
  SELECT k, n,
         MAX(struct_pack(s := score, nb := -b, b := b,
                         err := -u)) AS win,
         MIN(-u) AS best_err
  FROM scored
  GROUP BY k, n
)
-- div-safe: literal 20 denominator
SELECT ROUND(k / 20.0, 2) AS q,
       CAST(n AS BIGINT) AS n_orders,
       CAST(win.b * {_DPQ_WIDTH} AS BIGINT) AS released_lo_cents,
       CAST((win.b + 1) * {_DPQ_WIDTH} AS BIGINT) AS released_hi_cents,
       CAST(win.err AS BIGINT) AS released_rank_err20,
       CAST(best_err AS BIGINT) AS best_rank_err20,
       {float(_DPQ_EPS)!r} AS epsilon
FROM win
ORDER BY q
"""


# --------------------------------------------------------------------------
# Luhn-validated PII masking (r15): the checksum gate that separates real
# card numbers from 16-digit noise — a PII scrubber that masks every
# 16-digit run destroys data for no privacy gain; Luhn validation (ISO/IEC
# 7812) is what production scrubbers actually run before masking.
# --------------------------------------------------------------------------

#: candidates with doc_id % 3 == 0 are planted with the CORRECT Luhn
#: check digit; the rest get an offset wrong digit (never equal mod 10).
_LUHN_VALID_MOD = 3
#: bounded modulus for the masked-string hash census.
_LUHN_HASH_MOD = 1000003


def _luhn_candidate_cols():
    """Planted 16-digit candidate as Spark columns: 15 payload digits
    ``(doc_id·(i+3) + i²) mod 10`` plus a check digit that is Luhn-correct
    exactly for doc_id % {m} == 0. Returns (cand, planted_valid)."""
    i = None  # documentation only; lambdas below bind their own vars
    d15 = F.transform(
        F.sequence(F.lit(0), F.lit(14)),
        lambda ix: (F.col("doc_id") * (ix + 3) + ix * ix) % 10,
    )
    # full number has 16 digits; from the right r = 16 - ix, doubled when
    # r is even <=> ix is even (payload positions 0..14)
    contrib = lambda d, ix: F.when(  # noqa: E731
        ix % 2 == F.lit(0),
        F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2),
    ).otherwise(d)
    sum15 = F.aggregate(
        F.zip_with(
            d15,
            F.sequence(F.lit(0), F.lit(14)),
            lambda d, ix: contrib(d, ix),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    correct = (10 - sum15 % 10) % 10
    planted_valid = F.col("doc_id") % _LUHN_VALID_MOD == 0
    check = F.when(planted_valid, correct).otherwise(
        (correct + 1 + F.col("doc_id") % 9) % 10
    )
    cand = F.concat(
        F.array_join(F.transform(d15, lambda d: d.cast("string")), ""),
        check.cast("string"),
    )
    return cand, planted_valid


def pii_luhn_mask_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUHN PII MASK CENSUS: plant one 16-digit candidate per document
    (1-in-{m} carries a correct check digit), then VALIDATE FROM THE
    STRING — split to digits, right-to-left double-every-second with the
    9-fold-back, sum mod 10 — and mask only validated numbers to
    ``XXXX-XXXX-XXXX-last4``. Census per source: candidate/valid/invalid
    counts, the retained last-4 integer sum, and the masked-string hash
    checksum. The oracle replays digit construction AND string-side
    validation; a pytest pins the validator against real known-valid
    numbers (the 4111… test card) and single-digit perturbations.

    Scale shape: pure codegen string/array expressions — no kernel, no
    shuffle beyond the final census groupBy."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    cand, _planted = _luhn_candidate_cols()
    withc = docs.withColumn("cand", cand)
    # validation from the STRING (independent of the plant arithmetic)
    ds = F.transform(
        F.split(F.col("cand"), ""),
        lambda ch: ch.cast("int"),
    )
    # index ix 0..15 from the left; r = 16 - ix; doubled when ix even
    luhn_sum = F.aggregate(
        F.zip_with(
            ds,
            F.sequence(F.lit(0), F.lit(15)),
            lambda d, ix: F.when(
                ix % 2 == F.lit(0),
                F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2),
            ).otherwise(d),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    valid = (luhn_sum % 10) == 0
    masked = F.when(
        valid,
        F.concat(F.lit("XXXX-XXXX-XXXX-"), F.substring("cand", 13, 4)),
    ).otherwise(F.col("cand"))
    flags = withc.select(
        "source",
        valid.cast("long").alias("valid"),
        F.when(valid, F.substring("cand", 13, 4).cast("long"))
        .otherwise(0).alias("last4"),
        (md5_long(masked) % _LUHN_HASH_MOD).alias("mhash"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("valid").alias("n_valid"),
            (F.count(F.lit(1)) - F.sum("valid")).alias("n_invalid"),
            F.sum("last4").alias("last4_sum"),
            F.sum("mhash").alias("masked_hash_sum"),
        )
        .orderBy("source")
    )


pii_luhn_mask_census.__doc__ = pii_luhn_mask_census.__doc__.format(
    m=_LUHN_VALID_MOD
)
_luhn_candidate_cols.__doc__ = _luhn_candidate_cols.__doc__.format(
    m=_LUHN_VALID_MOD
)

_LUHN_SQL = f"""
WITH cands AS (
  SELECT source,
         list_aggregate(
           [CAST((doc_id * (i + 3) + i * i) % 10 AS VARCHAR)
            FOR i IN generate_series(0, 14)], 'string_agg', '')
         || CAST(
           CASE WHEN doc_id % {_LUHN_VALID_MOD} = 0
                THEN (10 - list_sum(
                        [CASE WHEN i % 2 = 0
                              THEN CASE WHEN ((doc_id*(i+3)+i*i)%10)*2 > 9
                                        THEN ((doc_id*(i+3)+i*i)%10)*2 - 9
                                        ELSE ((doc_id*(i+3)+i*i)%10)*2 END
                              ELSE (doc_id*(i+3)+i*i)%10 END
                         FOR i IN generate_series(0, 14)]) % 10) % 10
                ELSE ((10 - list_sum(
                        [CASE WHEN i % 2 = 0
                              THEN CASE WHEN ((doc_id*(i+3)+i*i)%10)*2 > 9
                                        THEN ((doc_id*(i+3)+i*i)%10)*2 - 9
                                        ELSE ((doc_id*(i+3)+i*i)%10)*2 END
                              ELSE (doc_id*(i+3)+i*i)%10 END
                         FOR i IN generate_series(0, 14)]) % 10) % 10
                      + 1 + doc_id % 9) % 10
           END AS VARCHAR) AS cand
  FROM documents
),
checked AS (
  SELECT source, cand,
         list_sum(
           [CASE WHEN (i - 1) % 2 = 0
                 THEN CASE WHEN CAST(cand[i] AS INTEGER) * 2 > 9
                           THEN CAST(cand[i] AS INTEGER) * 2 - 9
                           ELSE CAST(cand[i] AS INTEGER) * 2 END
                 ELSE CAST(cand[i] AS INTEGER) END
            FOR i IN generate_series(1, 16)]) % 10 = 0 AS valid
  FROM cands
),
flags AS (
  SELECT source, valid,
         CASE WHEN valid THEN CAST(substr(cand, 13, 4) AS BIGINT)
              ELSE 0 END AS last4,
         {duck_md5_long(
             "CASE WHEN valid THEN 'XXXX-XXXX-XXXX-' || substr(cand, 13, 4) "
             "ELSE cand END"
         )} % {_LUHN_HASH_MOD} AS mhash
  FROM checked
)
SELECT source,
       COUNT(*) AS n_candidates,
       CAST(count_if(valid) AS BIGINT) AS n_valid,
       CAST(count_if(NOT valid) AS BIGINT) AS n_invalid,
       CAST(SUM(last4) AS BIGINT) AS last4_sum,
       CAST(SUM(mhash) AS BIGINT) AS masked_hash_sum
FROM flags
GROUP BY source
ORDER BY source
"""

QUERIES = {
    "pii_luhn_mask_census": pii_luhn_mask_census,
    "dp_exponential_quantiles": dp_exponential_quantiles,
    "l_diversity_audit": l_diversity_audit,
    "t_closeness_audit": t_closeness_audit,
    "dp_laplace_event_histogram": dp_laplace_event_histogram,
    "user_contribution_capping": user_contribution_capping,
    "daily_revenue_cusum": daily_revenue_cusum,
    "benford_price_audit": benford_price_audit,
    "zorder_layout_effectiveness": zorder_layout_effectiveness,
    "k_anonymity_audit": k_anonymity_audit,
    "pseudonymize_join_preservation": pseudonymize_join_preservation,
    "ab_experiment_analysis": ab_experiment_analysis,
    "daily_trend_regression": daily_trend_regression,
    "table_checksum_buckets": table_checksum_buckets,
    "data_quality_constraint_report": data_quality_constraint_report,
    "user_cohort_retention": user_cohort_retention,
    "daily_revenue_anomalies": daily_revenue_anomalies,
    "weekly_seasonality_decomposition": weekly_seasonality_decomposition,
    "length_distribution_psi": length_distribution_psi,
}

ORACLES = {
    "pii_luhn_mask_census": _LUHN_SQL,
    "dp_exponential_quantiles": _DPQ_SQL,
    "l_diversity_audit": _L_DIVERSITY_SQL,
    "t_closeness_audit": _T_CLOSE_SQL,
    "dp_laplace_event_histogram": _DP_HIST_SQL,
    "user_contribution_capping": _CONTRIB_CAP_SQL,
    "daily_revenue_cusum": _CUSUM_SQL,
    "benford_price_audit": _BENFORD_SQL,
    "zorder_layout_effectiveness": _ZORDER_SQL,
    "k_anonymity_audit": _K_ANON_SQL,
    "pseudonymize_join_preservation": _PSEUDONYM_SQL,
    "ab_experiment_analysis": _AB_SQL,
    "daily_trend_regression": _TREND_SQL,
    "table_checksum_buckets": _checksum_oracle(),
    "data_quality_constraint_report": _QUALITY_SQL,
    "user_cohort_retention": _COHORT_SQL,
    "daily_revenue_anomalies": _ANOMALY_SQL,
    "weekly_seasonality_decomposition": _SEASONALITY_SQL,
    "length_distribution_psi": _psi_oracle(),
}
