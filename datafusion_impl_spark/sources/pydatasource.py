"""Custom source through the Python Data Source API (Spark 4) — the
extension point that makes "a source Spark doesn't ship" a first-class,
parallel scan instead of a driver-side collect-and-parallelize hack. The
reference's engine exposes the same concept as DataFusion TableProviders;
this is the PySpark-native equivalent (``tests/regexp-tests.rs:14`` reads
through the host engine's CSV provider the same way).

The demo source is a deterministic synthetic event generator: rows are a
pure function of the row index (multiplicative-hash user ids, modular
amounts), so the scan is

- **partitioned**: ``partitions()`` splits the index range; Spark schedules
  one task per split — real parallel reads, the same planning contract a
  Kafka/JDBC/REST source implements;
- **reproducible**: any engine can regenerate the rows from the index
  arithmetic — the DuckDB oracle does exactly that with generate_series,
  so the *whole custom-source path* (registration → partition planning →
  per-partition iterators → Arrow conversion) is value-checked end to end.

At 100 TB the same shape backs real connectors: partition by file/offset
range, yield tuples per split, let Spark handle distribution. Python-side
generation is the slow path vs a JVM source (rows cross one
Python→Arrow boundary per partition) — fine for ingest-boundary sources,
wrong for a hot compute path; persist to parquet downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

__all__ = ["QUERIES", "ORACLES", "SyntheticEventsDataSource"]

#: event-type vocabulary (index = row_index % 5).
_ETYPES = ("view", "click", "purchase", "signup", "error")

#: generator constants (Knuth multiplicative hash for user ids).
_USER_MULT = 2654435761
_USER_MOD = 997
_AMT_MULT = 7919
_AMT_MOD = 100000

#: scan size for the registered query (rows / partitions).
_N_ROWS = 20000
_N_PARTS = 8


def _gen_row(i: int):
    """One synthetic event — a pure function of the row index, shared by the
    batch reader, the streaming reader, and (arithmetically) the oracle."""
    return (
        i,
        (i * _USER_MULT) % _USER_MOD,
        _ETYPES[i % len(_ETYPES)],
        float((i * _AMT_MULT) % _AMT_MOD) / 100.0,
    )


class _SyntheticReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", _N_ROWS))
        self.n_parts = int(options.get("n_partitions", _N_PARTS))

    def partitions(self):
        chunk = -(-self.n_rows // self.n_parts)
        return [
            InputPartition((lo, min(lo + chunk, self.n_rows)))
            for lo in range(0, self.n_rows, chunk)
        ]

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        for i in range(lo, hi):
            yield _gen_row(i)


#: streaming variant: total rows and rows per micro-batch.
_STREAM_ROWS = 20000
_STREAM_BATCH = 6000


class _SyntheticStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader over the same deterministic generator: offsets are
    row indices, each ``read`` serves one bounded batch and advances the
    offset, and ``readBetweenOffsets`` replays any committed range exactly —
    the replayability contract that makes the source exactly-once under
    failure. The generator CAPS at ``n_rows``: past the cap ``read`` returns
    an empty batch with an unchanged offset, which is how a finite fixture
    signals 'no new data' to processAllAvailable()."""

    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", _STREAM_ROWS))
        self.batch = int(options.get("batch_rows", _STREAM_BATCH))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start: dict):
        lo = start["i"]
        hi = min(lo + self.batch, self.n_rows)
        return iter([_gen_row(i) for i in range(lo, hi)]), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_gen_row(i) for i in range(start["i"], end["i"])])


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` — options ``n_rows``,
    ``n_partitions``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, etype string, amount double"

    def reader(self, schema) -> DataSourceReader:
        return _SyntheticReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _SyntheticStreamReader(self.options)


def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register the custom source, scan it across 8 partitions, aggregate
    per event type. sf-independent by design (the source IS the fixture,
    like the reference's golden CSV)."""
    spark.dataSource.register(SyntheticEventsDataSource)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", _N_ROWS)
        .option("n_partitions", _N_PARTS)
        .load()
    )
    return (
        df.groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("amount"), 2).alias("sum_amount"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
        .orderBy("etype")
    )


_PY_DS_SQL = f"""
WITH g AS (
  SELECT i FROM generate_series(0, {_N_ROWS - 1}) t(i)
),
rows_ AS (
  SELECT i AS event_id,
         (i * {_USER_MULT}) % {_USER_MOD} AS user_id,
         ['view', 'click', 'purchase', 'signup', 'error'][i % 5 + 1] AS etype,
         CAST((i * {_AMT_MULT}) % {_AMT_MOD} AS DOUBLE) / 100.0 AS amount
  FROM g
)
SELECT etype, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(amount), 2) AS sum_amount,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM rows_
GROUP BY etype
ORDER BY etype
"""


# --------------------------------------------------------------------------
# Custom SINK through the same API: a JSON-lines writer
# --------------------------------------------------------------------------

_SINK_ROOT = "/tmp/datafusion_impl_spark_pysink"


class _JsonlWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator):
        """Executor-side: stream this partition's rows to one JSONL file.
        The partition id comes from TaskContext — the same contract a real
        connector uses to name its shard outputs."""
        import json as _json
        import os as _os

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        _os.makedirs(self.path, exist_ok=True)
        out = _os.path.join(self.path, f"part-{pid:05d}.jsonl")
        n = 0
        with open(out, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return WriterCommitMessage()


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonl_sink").option("path", ...)`` — a custom
    sink through the Python Data Source API: per-partition ``write()``
    with commit messages, the executor-parallel sink contract."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _JsonlWriter(self.options)


def python_datasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python SINK: a documents projection is
    written partition-parallel by :class:`JsonlSinkDataSource`, read back
    with the builtin JSON reader, and aggregated; the oracle computes the
    same aggregate from the original parquet — equality proves the custom
    writer loses nothing (encoding, nulls, row boundaries)."""
    import os
    import shutil

    from pyspark.sql import types as T

    from datafusion_impl_spark.sources.registry import load_table

    spark.dataSource.register(JsonlSinkDataSource)
    path = os.path.join(_SINK_ROOT, os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(path, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.repartition(4).write.format("jsonl_sink").option("path", path).mode(
        "append"
    ).save()
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .orderBy("lang")
    )


_PY_SINK_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM documents
GROUP BY lang
ORDER BY lang
"""


def python_datasource_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom source consumed as a STREAM: ``spark.readStream`` over the
    Python streaming data source (Spark 4's SimpleDataSourceStreamReader
    contract — offset management, bounded micro-batches, exact offset-range
    replay), drained to a memory sink with processAllAvailable() against the
    generator's finite cap, then aggregated. The final state is a pure
    function of the generator arithmetic — identical to a batch scan of the
    same index range — so the DuckDB oracle value-checks the entire
    streaming path: offsets → micro-batch planning → Python iterators →
    append sink. sf-independent by design (the source IS the fixture).

    A Python stream source does not honour ``availableNow`` (on Spark 4.1.2
    such a run reads 6000 of the 20000 rows), so this query cannot go
    through ``streaming._drain``; its sink gets the same unique name and
    dropped view."""
    import uuid

    from datafusion_impl_spark.streaming import _take_sink

    spark.dataSource.register(SyntheticEventsDataSource)
    sink = f"sink_{uuid.uuid4().hex}"
    q = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", _STREAM_ROWS)
        .option("batch_rows", _STREAM_BATCH)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return (
        _take_sink(spark, sink)
        .groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("amount"), 2).alias("sum_amount"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
        .orderBy("etype")
    )


_PY_STREAM_SQL = f"""
WITH g AS (
  SELECT i FROM generate_series(0, {_STREAM_ROWS - 1}) t(i)
),
rows_ AS (
  SELECT i AS event_id,
         (i * {_USER_MULT}) % {_USER_MOD} AS user_id,
         ['view', 'click', 'purchase', 'signup', 'error'][i % 5 + 1] AS etype,
         CAST((i * {_AMT_MULT}) % {_AMT_MOD} AS DOUBLE) / 100.0 AS amount
  FROM g
)
SELECT etype, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(amount), 2) AS sum_amount,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM rows_
GROUP BY etype
ORDER BY etype
"""


QUERIES = {
    "python_datasource_scan": python_datasource_scan,
    "python_datasource_write_roundtrip": python_datasource_write_roundtrip,
    "python_datasource_stream_agg": python_datasource_stream_agg,
}

ORACLES = {
    "python_datasource_scan": _PY_DS_SQL,
    "python_datasource_write_roundtrip": _PY_SINK_SQL,
    "python_datasource_stream_agg": _PY_STREAM_SQL,
}
