"""LLM-data-pipeline operators (the build's north star beyond reference parity):

- :mod:`.text`       — tokenization stats, language-ID, quality scoring,
                       regex token counting, rolling-hash fingerprints
- :mod:`.dedup`      — exact (content-hash), MinHash-LSH near-dup,
                       SimHash near-dup
- :mod:`.similarity` — brute-force cosine top-k, IVF top-k,
                       sign-random-projection LSH near-dup pairs
- :mod:`.curation`   — paragraph-level dedup, URL canonicalization dedup,
                       temperature-scaled source mixing, int8 embedding
                       quantization
- :mod:`.structured` — JSON/struct column handling (events.props)
- :mod:`.multimodal` — binary media columns + Arrow-batched decode and
                       feature kernels (BMP, PNG, GIF, JPEG, WAV and Y4M
                       decode natively, no image/audio libs needed)

Every operator is a declarative DataFrame plan (JVM-side, Catalyst-optimized)
unless the semantics genuinely need Python (`multimodal` runs per-blob
kernels, the source codecs encode and decode bytes). Such kernels run
through two helpers here: :func:`_map_rows`, the package's one Arrow batch
loop, and :func:`_shards`, its one shard assembly. Each has
a DuckDB oracle; cross-engine determinism rests on portable primitives
verified bit-exact, each defined once here:

- **md5-derived 60-bit hashes** (`md5_long` here ≡ the DuckDB fragment
  ``CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)``): both engines implement
  RFC-1321 md5 over UTF-8 bytes, and 15 hex chars = 60 bits always fits a
  signed BIGINT. All sketches (MinHash seeds, SimHash bits, SRP hyperplanes,
  fingerprints) derive from this, never from engine-native hash functions
  (Spark xxhash64 and DuckDB ``hash()`` differ).
- **double-precision sequential folds** (`_dot`): `aggregate(zip_with(...))`
  in Spark and `list_cosine_similarity(::DOUBLE[], ...)` in DuckDB reduce
  64-element vectors left-to-right in float64 — empirically bit-identical;
  results are still ROUND()ed before any comparison or ranking so a last-bit
  divergence can never flip a top-k order on either side.
- **half-away-from-zero rounding** (`_round_half_up`) for driver- and
  kernel-side Python math that must land on the engines' ``ROUND``.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_impl_spark.session import scoped_conf


def md5_long(col: Column) -> Column:
    """Portable 60-bit non-negative hash of a string column.

    Exactly equals the DuckDB expression produced by :func:`duck_md5_long`
    for the same input string (verified bit-exact in tests).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def duck_md5_long(expr: str) -> str:
    """DuckDB SQL fragment computing the same 60-bit hash as :func:`md5_long`."""
    return f"CAST(('0x' || substr(md5({expr}),1,15)) AS BIGINT)"


def _dot(a: Column, b: Column) -> Column:
    """Dot product as a sequential left-to-right fold (matches DuckDB
    bit-for-bit; not unrolled, see ``similarity._norm``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _round_half_up(x: float, nd: int) -> float:
    """Round half AWAY FROM ZERO — matching Spark's ``F.round`` and DuckDB's
    ``ROUND`` (Python's builtin ``round`` is banker's rounding and would
    diverge exactly on .5 boundaries)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), rounding=ROUND_HALF_UP)
    )


#: one iteration-stage shuffle partition per this many rows — sized so a
#: partition's join state stays comfortably in executor memory.
_ROWS_PER_ITER_PARTITION = 2_000_000


def _iteration_partitions(n_rows: int) -> int:
    """Shuffle-partition count for a fixed-point loop, sized from the
    checkpointed frame's measured row count (NOT a hard-coded 1): tiny
    frames get 1 partition (scheduling overhead dominates), a 100×-scale
    graph of tens of millions of rows gets real parallelism."""
    return max(1, -(-n_rows // _ROWS_PER_ITER_PARTITION))


@contextmanager
def bounded_iteration(spark: SparkSession, n_rows: int):
    """Pin shuffle partitions to ``_iteration_partitions(n_rows)`` for a
    fixed-point loop over a bounded frame, restoring after.

    Iterative operators (connected components, PageRank, k-core, suffix-array
    prefix doubling) loop over BOUNDED frames (thousands of rows at sf0.1),
    but with the session's core-count shuffle partitions every round schedules
    32-task stages whose fixed scheduling cost dwarfs the actual work. Heavy
    upstream plans are materialized at full parallelism BEFORE entering
    this context, so only the tiny iterative stages are pinned, and the count
    that sizes the pin is one cheap job over that checkpoint. Measured at
    sf0.1 (r13, graph family): components 5.7 s → ~2 s, PageRank 6.4 s → ~2 s.

    The pin goes through ``session.scoped_conf``: overlapping pins from
    concurrent clients take turns and always restore the session's values.
    """
    # AQE's job inside this zone — re-planning partition counts at runtime —
    # is already done better here: the partition count IS derived from the
    # measured row count. Left on, AQE materializes every exchange of every
    # per-round action as its own sub-job (plus a re-optimization pass per
    # stage), which on these bounded frames is pure scheduling overhead at
    # any scale; the skew/coalesce protections it buys matter on corpus-scale
    # shuffles, which are all checkpointed BEFORE entering the zone.
    with scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": str(_iteration_partitions(n_rows)),
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        yield


def materialize(df):
    """Truncate lineage for a subtree consumed by multiple downstream
    branches (LSH tables self-joined for candidates, shingle sets reused by
    the verify pass, ...) or carried across the rounds of an iterative loop.
    Without this Catalyst re-executes the whole subtree once per consumer —
    the MinHash plan scanned its parquet source 18 times. On a cluster this
    is ``checkpoint()`` to reliable storage; the materialized frame is always
    the *bounded sketch* (signatures, buckets, shingle sets), never the raw
    corpus. This is the package's only checkpoint call, so that choice is
    made here and nowhere else."""
    return df.localCheckpoint(eager=True)


def _map_rows(df: DataFrame, schema: str, fn) -> DataFrame:
    """Run ``fn(*values of one input row)`` over ``df``'s Arrow batches with
    ``mapInArrow``. ``fn`` returns an iterable of output tuples in
    ``schema`` order: one tuple for a 1:1 kernel, any number (none
    included) for a 1:n kernel. The output Arrow types are resolved once,
    on the driver, from ``schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    out = to_arrow_schema(StructType.fromDDL(schema))

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            rows = [
                r for vals in zip(*b.to_pydict().values()) for r in fn(*vals)
            ]
            cols = list(zip(*rows)) or [()] * len(out)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, out)],
                schema=out,
            )

    return df.mapInArrow(kernel, schema)


def _shards(df: DataFrame, order, encode) -> DataFrame:
    """``(shard_id int, blob binary)``: one row per ``shard_id`` of ``df``,
    its blob ``encode(shard_id, rows)``. ``rows`` are the group's rows
    sorted by ``order`` (a column name or a list of them), as named tuples
    of ``df``'s other columns in select order. The assembly is one shuffle
    over the shard key, the shape of a distributed shard writer."""

    def build(pdf):
        import pandas as pd

        sid = int(pdf["shard_id"].iloc[0])
        rows = (
            pdf.sort_values(order)
            .drop(columns="shard_id")
            .itertuples(index=False)
        )
        return pd.DataFrame({"shard_id": [sid], "blob": [encode(sid, rows)]})

    return df.groupBy("shard_id").applyInPandas(
        build, "shard_id int, blob binary"
    )
