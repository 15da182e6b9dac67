"""User-facing engine context — the drop-in analogue of the reference's
public API (``/root/reference/readme.md:36-57``):

reference (DataFusion)                          this engine (PySpark)
--------------------------------------------    ----------------------------------
``SessionContext::new()``                       ``EngineContext()``
``ctx.register_udf(create_regexp_extract())``   automatic (constructor registers)
``ctx.read_csv("data.csv").await?``             ``ctx.read_csv("data.csv")``
``df.select(vec![col, call_fn(...)])``          ``df.select(F.col(...), ...)``
``ctx.sql("SELECT regexp_extract(...)").await`` ``ctx.sql("SELECT regexp_extract_safe(...)")``
``result.show()`` / ``df.collect().await``      ``result.show()`` / ``df.collect()``

A reference user keeps their mental model: one shared, thread-safe context
(``tests/regexp-tests.rs:149-191``), lazy DataFrames, both SQL and DataFrame
entry points resolving the same registered function. Beyond parity, the
context exposes the driver testdata tables and the LLM-pipeline operator
registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datafusion_impl_spark.functions.regexp import register_regexp
from datafusion_impl_spark.session import get_spark
from datafusion_impl_spark.sources.registry import (
    TABLES,
    load_table,
    read_csv,
    read_parquet,
    register_all,
    values_table,
)

__all__ = ["EngineContext"]


class EngineContext:
    """Shared query context: one SparkSession with the engine's UDFs
    registered, safe to use from concurrent threads."""

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark()
        register_regexp(self.spark)

    # --- sources (reference §2.2) ------------------------------------------

    def read_csv(self, path: str) -> DataFrame:
        """CSV scan with schema inference (``ctx.read_csv``, readme.md:46).
        The schema is inferred once per session and file version, like a
        source registered once on the reference's ``SessionContext``; every
        call still returns a fresh lazy scan."""
        return read_csv(self.spark, path)

    def read_parquet(self, path: str) -> DataFrame:
        """Lazy parquet scan, its schema resolved like ``read_csv``'s."""
        return read_parquet(self.spark, path)

    def values(self, rows: list[tuple], columns: list[str]) -> DataFrame:
        """Inline literal table (``FROM (VALUES ...)``, regexp-tests.rs:84)."""
        return values_table(self.spark, rows, columns)

    def table(self, sf_dir: str, name: str) -> DataFrame:
        """One driver testdata table (lazy scan; prune/push at the caller)."""
        return load_table(self.spark, sf_dir, name)

    def register_testdata(self, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
        """Expose every testdata table as a SQL view."""
        register_all(self.spark, sf_dir, names)

    # --- queries (reference §2.12) -----------------------------------------

    def sql(self, query: str) -> DataFrame:
        """SQL entry point (``ctx.sql``, regexp-tests.rs:54)."""
        return self.spark.sql(query)

    # --- operator registry --------------------------------------------------

    @staticmethod
    def queries():
        """All named queries (relational + LLM-pipeline), name → callable
        taking (spark, sf_dir)."""
        import __spark_entry__ as entry

        return entry.queries()
