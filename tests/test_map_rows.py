"""Batch kernels have one path: ``operators._map_rows`` runs a per-row
function over Arrow batches and types the output from the declared schema,
for 1:1 and 1:n kernels alike, and ``operators._shards`` assembles one blob
per ``shard_id``. Anywhere in the package only these two and the six
batch-API demos call ``mapInArrow``/``mapInPandas``/``applyInPandas``/
``applyInArrow`` (static guard, in the style of ``test_materialize.py``)."""

from __future__ import annotations

import ast

import pandas as pd
import pyarrow as pa
from pyspark.sql import Row

from datafusion_impl_spark.operators import _map_rows, _shards
from tests.static_scan import by_function, method_calls, package_hits

_BATCH_APIS = ("mapInArrow", "mapInPandas", "applyInPandas", "applyInArrow")

#: (module, top-level function) that may call the batch APIs themselves:
#: the two helpers, and the demos whose contract IS the API they call
_ALLOWED = {
    ("datafusion_impl_spark/operators/__init__.py", "_map_rows"),
    ("datafusion_impl_spark/operators/__init__.py", "_shards"),
    # mapInPandas, its mapInArrow twin, and a mapInPandas 1:n explode
    ("datafusion_impl_spark/operators/multimodal.py", "extract_media_features"),
    ("datafusion_impl_spark/operators/multimodal.py", "extract_media_features_arrow"),
    ("datafusion_impl_spark/operators/multimodal.py", "sample_frames"),
    # a per-batch partial aggregate, not a row kernel
    ("datafusion_impl_spark/operators/text.py", "blocklist_aho_corasick"),
    # groupBy().applyInPandas and cogroup().applyInPandas
    ("datafusion_impl_spark/plans/analytics.py", "grouped_zscore_doclen"),
    ("datafusion_impl_spark/plans/analytics.py", "cogrouped_order_gap_stats"),
}


def batch_api_calls(source: str) -> list[tuple[str, int]]:
    """(enclosing top-level function or ``<module>``, line) of each
    batch-API call ``<x>.mapInArrow(...)`` and friends in ``source``."""
    calls = method_calls(source, _BATCH_APIS)
    return by_function(source, [c.lineno for c in calls])


def grouped_pandas_calls(source: str) -> list[tuple[str, int]]:
    """(enclosing top-level function or ``<module>``, line) of each
    ``<x>.groupBy(...).applyInPandas(...)`` call in ``source``."""
    calls = [
        c for c in method_calls(source, ("applyInPandas",))
        if isinstance(c.func.value, ast.Call)
        and isinstance(c.func.value.func, ast.Attribute)
        and c.func.value.func.attr == "groupBy"
    ]
    return by_function(source, [c.lineno for c in calls])


def _disallowed(path: str, source: str) -> list[tuple[str, int]]:
    return [c for c in batch_api_calls(source) if (path, c[0]) not in _ALLOWED]


def test_guard_catches_a_planted_batch_call():
    src = (
        "def _map_rows(df, schema, fn):\n"
        "    return df.mapInArrow(fn, schema)\n"
        "def decode_x_stats(images):\n"
        "    def fn(batches):\n"
        "        yield from batches\n"
        "    return images.mapInPandas(fn, 'doc_id bigint')\n"
        "def build_x_shards(docs):\n"
        "    return docs.groupBy('shard_id').applyInPandas(f, 'b binary')\n"
        "clips = docs.mapInArrow(build, 'doc_id bigint, media binary')\n"
        "mapInArrow(docs)\n"
    )
    init = "datafusion_impl_spark/operators/__init__.py"
    assert _disallowed(init, src) == [
        ("decode_x_stats", 6), ("build_x_shards", 8), ("<module>", 9),
    ]
    # the helper's name is exempt only in its own module
    assert ("_map_rows", 2) in _disallowed("other.py", src)
    assert grouped_pandas_calls(src) == [("build_x_shards", 8)]


def test_batch_apis_are_called_only_by_the_helpers_and_the_demos():
    hits = package_hits(batch_api_calls)
    calls = {(path, fn) for path, found in hits.items() for fn, _ in found}
    assert calls - _ALLOWED == set()
    # every exemption is still used, so the list cannot go stale
    assert calls == _ALLOWED
    # one call each: eight batch-API calls in the package
    assert sum(len(found) for found in hits.values()) == len(_ALLOWED)


def test_shards_are_assembled_only_by_the_shard_helper():
    hits = package_hits(grouped_pandas_calls)
    calls = [(path, fn) for path, found in hits.items() for fn, _ in found]
    assert calls == [
        ("datafusion_impl_spark/operators/__init__.py", "_shards"),
        ("datafusion_impl_spark/plans/analytics.py", "grouped_zscore_doclen"),
    ]


class _Probe:
    """Stands in for a DataFrame: records the kernel ``_map_rows`` hands to
    ``mapInArrow`` so it can run on local Arrow batches."""

    def mapInArrow(self, kernel, schema):
        self.kernel, self.schema = kernel, schema
        return self


def _kernel(schema: str, fn):
    return _map_rows(_Probe(), schema, fn).kernel


def test_output_types_come_from_the_schema(spark):
    kernel = _kernel(
        "a int, b bigint, c double, d binary",
        lambda x, blob: [(x, x * 10, x / 2, blob[::-1])],
    )
    batch = pa.RecordBatch.from_pydict({"x": [1, 2], "blob": [b"ab", b"xyz"]})
    (out,) = kernel([batch])
    assert out.schema.names == ["a", "b", "c", "d"]
    assert out.schema.types == [pa.int32(), pa.int64(), pa.float64(), pa.binary()]
    assert out.to_pydict() == {
        "a": [1, 2], "b": [10, 20], "c": [0.5, 1.0], "d": [b"ba", b"zyx"],
    }


def test_a_batch_that_yields_no_rows_is_an_empty_typed_batch(spark):
    kernel = _kernel("clip_id bigint, t int", lambda x: [(x, t) for t in range(x)])
    outs = list(kernel([
        pa.RecordBatch.from_pydict({"x": [0, 0]}),
        pa.RecordBatch.from_pydict({"x": [2]}),
    ]))
    assert [o.num_rows for o in outs] == [0, 2]
    assert all(o.schema.types == [pa.int64(), pa.int32()] for o in outs)
    assert outs[1].to_pydict() == {"clip_id": [2, 2], "t": [0, 1]}


def test_one_to_one_kernel_end_to_end(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"ab")), (2, bytearray(b"xyz"))],
        "doc_id long, media binary",
    )
    out = _map_rows(
        df,
        "doc_id bigint, n int, half double, tail binary",
        lambda d, m: [(d, len(m), len(m) / 2, m[1:])],
    )
    assert sorted(out.collect()) == [
        Row(doc_id=1, n=2, half=1.0, tail=bytearray(b"b")),
        Row(doc_id=2, n=3, half=1.5, tail=bytearray(b"yz")),
    ]


def test_one_to_many_kernel_end_to_end_with_an_empty_partition(spark):
    # partition 0 holds ids 0..3 and yields no rows at all
    df = spark.range(0, 8, numPartitions=2)
    out = _map_rows(
        df,
        "id bigint, k int",
        lambda i: [(i, k) for k in range(i % 3)] if i >= 4 else [],
    )
    assert sorted(out.collect()) == [
        Row(id=4, k=0), Row(id=5, k=0), Row(id=5, k=1), Row(id=7, k=0),
    ]


class _GroupProbe:
    """Stands in for a DataFrame: records the key and the function
    ``_shards`` hands to ``groupBy(...).applyInPandas`` so the function can
    run on local pandas groups."""

    def groupBy(self, *keys):
        self.keys = keys
        return self

    def applyInPandas(self, fn, schema):
        self.fn, self.schema = fn, schema
        return self


def test_shards_hand_encode_the_shard_id_and_the_sorted_rows():
    seen = []

    def encode(shard_id, rows):
        rows = list(rows)
        seen.append((shard_id, rows))
        return f"{shard_id}:{','.join(r.name for r in rows)}".encode()

    probe = _shards(_GroupProbe(), ["k", "j"], encode)
    assert probe.keys == ("shard_id",)
    assert probe.schema == "shard_id int, blob binary"
    group = pd.DataFrame({
        "name": ["c", "a", "b"],
        "shard_id": [7, 7, 7],
        "k": [2, 1, 1],
        "j": [0, 5, 3],
    })
    out = probe.fn(group)
    assert out.to_dict("list") == {"shard_id": [7], "blob": [b"7:b,a,c"]}
    ((shard_id, rows),) = seen
    assert shard_id == 7 and type(shard_id) is int
    # the other columns, in select order, sorted by (k, j)
    assert [r._fields for r in rows] == [("name", "k", "j")] * 3
    assert [tuple(r) for r in rows] == [("b", 1, 3), ("a", 1, 5), ("c", 2, 0)]


def test_shards_end_to_end_one_row_per_shard(spark):
    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in (5, 0, 4, 3, 1, 2, 6)],
        "doc_id long, shard_id int, text string",
    )
    out = _shards(
        df, "doc_id",
        lambda sid, rows: " ".join(r.text for r in rows).encode(),
    )
    assert out.schema.simpleString() == "struct<shard_id:int,blob:binary>"
    assert sorted(out.collect()) == [
        Row(shard_id=0, blob=bytearray(b"r0 r3 r6")),
        Row(shard_id=1, blob=bytearray(b"r1 r4")),
        Row(shard_id=2, blob=bytearray(b"r2 r5")),
    ]
