"""datafusion_impl_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference crate ``elnatan1990/datafusion-impl`` (see ``SURVEY.md``), built
Spark-first: logical plans are declared through the DataFrame/SQL API and
Catalyst/Tungsten pick the physical strategy. Custom kernels (the
``regexp_extract`` parity UDF, dedup, similarity search, text analysis)
live in Python only where built-in operators genuinely can't express the
semantics, and then as Arrow-vectorized pandas UDFs.

Layout:
    session     SparkSession factory with scale-aware defaults
    sources     table registry / readers (parquet, csv, values)
    functions   scalar function surface (regexp, text, vectors)
    operators   composed operators (dedup, similarity, multimodal, relational)
    plans       declarative query definitions (tpch-ish, analytics)
    streaming   Structured Streaming operators over the events table
    worker_daemon  Spark's Python worker daemon, started warm

Importing the package imports no pyspark: ``python -m
datafusion_impl_spark.worker_daemon`` runs this file first and must fix the
workers' ``sys.path`` before pyspark loads. ``get_spark`` resolves lazily.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    if name == "get_spark":
        from datafusion_impl_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
