"""Table sources: parquet registry for the driver testdata, plus the CSV /
inline-VALUES readers the reference exercises.

Reference surface reproduced (SURVEY.md §2.2):
- CSV scan with schema inference  (``tests/regexp-tests.rs:14``, ``readme.md:46``)
- inline literal VALUES tables    (``tests/regexp-tests.rs:84,118-125``)
- parquet (driver testdata; trivial in Spark)

Scale note: every reader returns a fresh, lazy scan — column pruning and
predicate pushdown are Catalyst's job, and they only work when the scan is
declared lazily and filtered/projected by the caller. Data is never cached
or materialized here, and no DataFrame is shared between calls (self-joins
need fresh attribute ids). What is cached is the inferred *schema* of a
local file, once per session and file version (``_scan``), so a repeat
read starts no inference job — the reference's register-once
``SessionContext`` model.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver generates at every scale factor (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins: at any
#: scale factor these stay tiny (region=5, nation=25 rows) or grow far slower
#: than the fact tables.
BROADCAST_DIMS = frozenset({"region", "nation"})

#: Reader options per format; the schema cache is keyed by format alone, so
#: a format always reads with the same options.
_OPTIONS = {"csv": {"header": True, "inferSchema": True}, "parquet": {}}

#: session -> {(format, absolute path): (st_size, st_mtime_ns, schema)}.
#: Weakly keyed so a session's entries go away with it; one version per
#: path, so rewriting a file replaces its entry instead of adding one.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _scan(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """A fresh lazy ``fmt`` scan of ``path`` whose schema is inferred at
    most once per session and file version.

    Inference (the CSV sampling scan, the parquet footer job) is a Spark job
    that runs when the DataFrame is declared. For a local regular file the
    inferred ``StructType`` is kept, keyed by the file's size and mtime, and
    a repeat call declares ``spark.read.schema(cached)`` instead, which
    starts no job. Directories, globs and remote URIs are inferred on every
    call: one ``stat`` cannot see a change to a file inside them. Inference
    runs outside the lock, so two threads missing at once both infer and
    agree. Reader confs are not part of the key: a conf that changes what
    inference yields (e.g. ``spark.sql.parquet.inferTimestampNTZ.enabled``)
    takes effect for already-read files in a new session.
    """
    reader = spark.read.format(fmt).options(**_OPTIONS[fmt])
    try:
        st = None if any(c in path for c in "*?[{") else os.stat(path)
    except OSError:  # a remote URI, or a path Spark will report missing
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return reader.load(path)
    key = (fmt, os.path.abspath(path))
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(spark, {}).get(key)
    if hit is not None and hit[:2] == (st.st_size, st.st_mtime_ns):
        return reader.schema(hit[2]).load(path)
    df = reader.load(path)
    entry = (st.st_size, st.st_mtime_ns, df.schema)
    with _SCHEMAS_LOCK:
        _SCHEMAS.setdefault(spark, {})[key] = entry
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazily scan one testdata table. ``sf_dir`` like ``/root/testdata/sf0.01``.

    ``events.ts`` has shipped in two physical shapes across testdata
    generations: parquet TIMESTAMP(NANOS) — which Spark only reads via the
    ``nanosAsLong`` legacy conf, as a raw-nanos bigint — and native
    TIMESTAMP(MICROS). We normalize both to a session-timezone TIMESTAMP
    (the session factory pins UTC, so wall-clock values agree with the
    DuckDB oracle either way). The conf is set guarded, set-once, always to
    the same value, which is benign under concurrent readers.
    """
    if name == "events":
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # legacy TIMESTAMP(NANOS) read as raw nanos
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        # native TIMESTAMP / TIMESTAMP_NTZ (driver sessions may infer either,
        # depending on spark.sql.parquet.inferTimestampNTZ.enabled)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def register_all(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view so ``spark.sql`` queries see them."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, infer_schema: bool = True) -> DataFrame:
    """CSV scan with schema inference — mirrors ``ctx.read_csv`` (readme.md:46).

    ``inferSchema=True`` matches the reference's behavior. The inference
    scan runs once per session and file version (``_scan``); later calls
    declare the cached schema and start no job. ``infer_schema=False`` reads
    every column as a string.
    """
    if not infer_schema:
        return spark.read.csv(path, header=True, inferSchema=False)
    return _scan(spark, "csv", path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet scan; the footer-schema job runs once per session and
    file version (``_scan``)."""
    return _scan(spark, "parquet", path)


def values_table(spark: SparkSession, rows: list[tuple], columns: list[str]) -> DataFrame:
    """Inline literal table — mirrors ``FROM (VALUES ...) as t(...)``
    (``tests/regexp-tests.rs:84``)."""
    return spark.createDataFrame(rows, schema=columns)
