"""Media kernels have one batch loop: ``multimodal._map_rows`` runs a per-row
function over Arrow batches and types the output from the declared schema,
for 1:1 and 1:n kernels alike; in ``multimodal.py`` only it and the four
batch-API demos call ``mapInArrow``/``mapInPandas`` (static guard, in the
style of ``test_materialize.py``)."""

from __future__ import annotations

import pathlib

import pyarrow as pa
from pyspark.sql import Row

from datafusion_impl_spark.operators import multimodal
from datafusion_impl_spark.operators.multimodal import _map_rows
from tests.static_scan import by_function, method_calls

#: the top-level functions of ``multimodal.py`` that may call the batch APIs
#: themselves: the helper, and the demos whose contract IS the API they call
_ALLOWED = {
    "_map_rows",
    "extract_media_features",        # mapInPandas
    "extract_media_features_arrow",  # its mapInArrow twin
    "sample_frames",                 # mapInPandas 1:n frame explode
    "multimodal_tar_webdataset_scan",  # applyInPandas + mapInPandas shards
}


def batch_api_calls(source: str) -> list[tuple[str, int]]:
    """(enclosing top-level function or ``<module>``, line) of each
    ``<x>.mapInArrow(...)``/``<x>.mapInPandas(...)`` call in ``source``."""
    calls = method_calls(source, ("mapInArrow", "mapInPandas"))
    return by_function(source, [c.lineno for c in calls])


def _disallowed(source: str) -> list[tuple[str, int]]:
    return [c for c in batch_api_calls(source) if c[0] not in _ALLOWED]


def test_guard_catches_a_planted_batch_call():
    src = (
        "def _map_rows(df, schema, fn):\n"
        "    return df.mapInArrow(fn, schema)\n"
        "def decode_x_stats(images):\n"
        "    def fn(batches):\n"
        "        yield from batches\n"
        "    return images.mapInPandas(fn, 'doc_id bigint')\n"
        "clips = docs.mapInArrow(build, 'doc_id bigint, media binary')\n"
        "mapInArrow(docs)\n"
    )
    assert _disallowed(src) == [("decode_x_stats", 6), ("<module>", 7)]


def test_media_batch_apis_are_called_only_by_map_rows_and_the_demos():
    calls = batch_api_calls(pathlib.Path(multimodal.__file__).read_text())
    assert [c for c in calls if c[0] not in _ALLOWED] == []
    # every exemption is still used, so the list cannot go stale
    assert {name for name, _ in calls} == _ALLOWED


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
