"""Source/sink surface tests closing the reference's own e2e shape
(SURVEY.md §2.2): CSV scan feeding the regexp UDF against the golden fixture
(the reference's tests/regexp-tests.rs:5-27 + tests/test-data.csv, vendored
as ``sources/data/test-data.csv`` — asserting extracted == expected, which
the reference only show()s), plus the show() / toPandas() sinks, plus
parquet/json round-trips, plus the per-session schema resolver behind
``read_csv`` / ``load_table``."""

from __future__ import annotations

import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_impl_spark.functions.regexp import SAFE_UDF_NAME, register_regexp
from datafusion_impl_spark.sources.queries import _REF_CSV
from datafusion_impl_spark.sources.registry import read_csv, values_table

#: The fixture pairs each text with its expected extraction for the pattern
#: the reference uses throughout (tests/regexp-tests.rs:21).
_REF_PATTERN = r"(\d+)-(\d+)"


def test_csv_scan_golden_end_to_end(spark):
    """CSV scan (schema inference) → builtin fast path + parity UDF →
    golden comparison. Null expected cells = empty extraction (the fixture
    leaves the expected column blank for no-match rows)."""
    register_regexp(spark)
    df = read_csv(spark, _REF_CSV)
    assert set(df.columns) == {"text", "expected"}
    sql_pat = _REF_PATTERN.replace("\\", "\\\\")
    # Spark's CSV reader yields null for empty cells (and infers the
    # all-numeric expected column as BIGINT); the fixture means the empty
    # string (row 5 is ``,``), so cast+coalesce both columns before use.
    txt = F.coalesce("text", F.lit(""))
    got = df.select(
        "text",
        F.coalesce(F.col("expected").cast("string"), F.lit("")).alias("expected"),
        F.regexp_extract(txt, _REF_PATTERN, 1).alias("fast"),
        F.expr(f"{SAFE_UDF_NAME}(coalesce(text, ''), '{sql_pat}', 1)").alias("safe"),
    ).collect()
    assert len(got) == 8
    for row in got:
        assert row.fast == row.expected, row
        assert row.safe == row.expected, row


@contextmanager
def _jobs_started(spark, group: str):
    """Collects the ids of the Spark jobs started in the block (this
    thread's job group), after the listener bus has delivered their events."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_source_reads_start_no_job(spark, tmp_path):
    """A repeat ``read_csv`` / ``load_table`` (the ``events.ts`` shape check
    included) declares the cached schema: zero Spark jobs. The cold read of
    a new file does start one, so the count is not vacuous."""
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    fresh = tmp_path / "golden.csv"
    shutil.copyfile(_REF_CSV, fresh)
    with _jobs_started(spark, "resolver-cold") as cold:
        read_csv(spark, str(fresh))
    assert cold, "a cold CSV read infers its schema with a Spark job"

    want = {
        name: load_table(spark, SF_DIR, name).schema for name in ("nation", "events")
    }
    with _jobs_started(spark, "resolver-warm") as warm:
        csv = read_csv(spark, str(fresh))
        got = {name: load_table(spark, SF_DIR, name).schema for name in want}
    assert warm == []
    assert got == want
    assert got["events"]["ts"].dataType == T.TimestampType()
    assert csv.columns == ["text", "expected"] and csv.count() == 8


def test_rewritten_csv_is_inferred_again(spark, tmp_path):
    """Rewriting a file changes its (size, mtime) fingerprint: the next read
    infers again and sees the column go from int to string."""
    path = tmp_path / "evolving.csv"
    path.write_text("id,v\n1,10\n2,20\n")
    first = read_csv(spark, str(path))
    assert first.schema["v"].dataType == T.IntegerType()
    assert read_csv(spark, str(path)).schema == first.schema
    path.write_text("id,v\n1,ten\n2,twenty\n")
    again = read_csv(spark, str(path))
    assert again.schema["v"].dataType == T.StringType()
    assert sorted(tuple(r) for r in again.collect()) == [(1, "ten"), (2, "twenty")]


def test_threads_on_one_context_resolve_the_same_schema(spark, tmp_path):
    """Four threads racing on the cold read of one file through a shared
    ``EngineContext`` each get plain inference's schema and rows."""
    from datafusion_impl_spark.engine import EngineContext

    path = tmp_path / "shared.csv"
    path.write_text("k,x,label\n" + "".join(f"{i},{i * 0.5},r{i % 7}\n" for i in range(200)))
    want = spark.read.csv(str(path), header=True, inferSchema=True)
    want_rows = sorted(tuple(r) for r in want.collect())
    ctx = EngineContext(spark)
    start = threading.Barrier(4, timeout=60)

    def read():
        start.wait()
        df = ctx.read_csv(str(path))
        return df.schema, sorted(tuple(r) for r in df.collect())

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(4) as ex:
            futures = [ex.submit(read) for _ in range(4)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(results) == 4
    for schema, rows in results:
        assert schema == want.schema
        assert rows == want_rows


def test_self_join_scans_get_fresh_attribute_ids(spark):
    """Only schemas are shared, never DataFrames: two ``nation`` scans join
    as two relations (25 x 25 pairs), not as one column compared with
    itself."""
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    pairs = a.crossJoin(b).select(
        a.n_nationkey.alias("x"), b.n_nationkey.alias("y")
    )
    assert pairs.distinct().count() == 625
    assert pairs.filter("x != y").count() == 600


def test_directory_sources_are_inferred_every_call(spark, tmp_path):
    """A directory is not fingerprinted (one stat cannot see a file inside
    it change): every read infers, and sees a file added between reads."""
    from datafusion_impl_spark.engine import EngineContext

    ctx = EngineContext(spark)
    csv_dir, pq_dir = str(tmp_path / "csv_dir"), str(tmp_path / "pq_dir")
    values_table(spark, [(1, "a")], ["id", "name"]).write.csv(csv_dir, header=True)
    values_table(spark, [(1, "a")], ["id", "name"]).write.parquet(pq_dir)
    for attempt in range(2):
        with _jobs_started(spark, f"resolver-dir-{attempt}") as jobs:
            df = read_csv(spark, csv_dir)
            ctx.read_parquet(pq_dir)
        assert len(jobs) >= 2, attempt
        assert df.count() == attempt + 1
        (tmp_path / "csv_dir" / "part-extra.csv").write_text("id,name\n2,b\n")


def test_show_sink(spark, capsys):
    """show() pretty-print sink (readme.md:55, regexp-tests.rs:25)."""
    values_table(spark, [(1, "a"), (2, "b")], ["id", "name"]).show()
    out = capsys.readouterr().out
    assert "id" in out and "name" in out and "+---" in out


def test_topandas_sink(spark):
    pdf = values_table(spark, [(1, "a"), (2, "b")], ["id", "name"]).toPandas()
    assert list(pdf.columns) == ["id", "name"]
    assert len(pdf) == 2


def test_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "roundtrip.parquet")
    df = values_table(spark, [(i, f"v{i}") for i in range(10)], ["id", "val"])
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert sorted((r.id, r.val) for r in back.collect()) == [
        (i, f"v{i}") for i in range(10)
    ]


def test_orc_roundtrip(spark, tmp_path):
    path = str(tmp_path / "roundtrip.orc")
    df = values_table(spark, [(i, float(i) * 1.5) for i in range(10)], ["id", "val"])
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert sorted((r.id, r.val) for r in back.collect()) == [
        (i, i * 1.5) for i in range(10)
    ]


def test_json_roundtrip(spark, tmp_path):
    path = str(tmp_path / "roundtrip.json")
    df = values_table(spark, [(1, "x"), (2, "y")], ["id", "val"])
    df.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    assert sorted((r.id, r.val) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_two_builds_of_a_roundtrip_query_read_their_own_files(spark):
    """Each build of a write-then-read query writes a fresh scratch
    directory. With one fixed path per scale factor, the second build's
    overwrite deleted the files the first build had planned to read, and
    collecting the first afterwards failed with FILE_NOT_EXIST."""
    from datafusion_impl_spark.sources.queries import jsonl_documents_roundtrip
    from tests.conftest import SF_DIR

    first = jsonl_documents_roundtrip(spark, SF_DIR)
    second = jsonl_documents_roundtrip(spark, SF_DIR)
    assert second.collect() == first.collect()


def test_text_source(spark, tmp_path):
    """spark.read.text: one row per line, single `value` column."""
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta 2\n\ngamma-3\n")
    df = spark.read.text(str(p))
    assert df.columns == ["value"]
    assert [r.value for r in df.collect()] == ["alpha", "beta 2", "", "gamma-3"]


def test_observe_metrics_sink(spark):
    """df.observe(): named aggregate metrics collected as a side channel of
    a normal action — the lightweight data-quality hook a pipeline attaches
    to production jobs."""
    from pyspark.sql import Observation

    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    obs = Observation("li_metrics")
    li = load_table(spark, SF_DIR, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("n_bad_qty"),
    )
    n = li.count()
    assert obs.get["n_rows"] == n > 0
    assert obs.get["n_bad_qty"] == 0


def test_zorder_layout_shrinks_bounding_boxes(spark):
    """The point of the Morton key: chunk the corpus into 16 'files' by sort
    order and measure each chunk's per-dimension min/max span — what a
    file-stats pruner must assume the file covers on EACH filter column. A
    single-column (date) sort gives thin day strips but spans the whole
    custkey range in every chunk (zero pruning for customer filters); the
    z-order must bound BOTH dimensions well below the full range. Test-only
    driver-side math over sf0.001; the production operator never collects."""
    from datafusion_impl_spark.sources.queries import _Z_EPOCH, _zkey_spark
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    cells = 256
    x = F.pmod(F.col("o_custkey"), F.lit(cells)).cast("long")
    y = F.pmod(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit(_Z_EPOCH).cast("date")),
        F.lit(cells),
    ).cast("long")
    pdf = (
        orders.select(
            _zkey_spark(x, y).alias("zkey"), x.alias("cx"), y.alias("cy")
        )
        .toPandas()
    )

    def avg_spans(df, order_col):
        df = df.sort_values([order_col, "cx", "cy"], kind="mergesort").reset_index(drop=True)
        df["chunk"] = (df.index * 16) // len(df)
        g = df.groupby("chunk").agg(
            cx_min=("cx", "min"), cx_max=("cx", "max"),
            cy_min=("cy", "min"), cy_max=("cy", "max"),
        )
        return (
            (g.cx_max - g.cx_min + 1).mean(),
            (g.cy_max - g.cy_min + 1).mean(),
        )

    cx_range = pdf.cx.max() - pdf.cx.min() + 1
    cy_range = pdf.cy.max() - pdf.cy.min() + 1
    z_cx, z_cy = avg_spans(pdf, "zkey")
    d_cx, d_cy = avg_spans(pdf, "cy")
    # date sort: thin day strips, but every chunk spans ~the whole custkey
    # range — customer-filter pruning is impossible
    assert d_cx > cx_range * 0.9, (d_cx, cx_range)
    # z-order: BOTH dimensions bounded well under the full range — a 16-way
    # split of a 2-D Morton curve covers ~quarter-range quadrants per chunk
    assert z_cx < cx_range * 0.6, (z_cx, cx_range)
    assert z_cy < cy_range * 0.6, (z_cy, cy_range)
    # and z-order strictly beats the date layout on the custkey dimension
    assert z_cx < d_cx * 0.6, (z_cx, d_cx)


def test_compaction_plan_conserves_rows_and_files(spark):
    from datafusion_impl_spark.sources.queries import compact_small_files_plan
    from datafusion_impl_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    rows = compact_small_files_plan(spark, SF_DIR).collect()
    n_orders = load_table(spark, SF_DIR, "orders").count()
    assert sum(r.n_files for r in rows) == 12
    assert sum(r.n_rows for r in rows) == n_orders
    assert {r.bin for r in rows} <= {0, 1, 2, 3}
    # bins are balanced by construction: no bin holds more than half the rows
    assert max(r.n_rows for r in rows) <= n_orders * 0.5


def test_avro_ocf_interop_with_apache_avro_both_directions(spark, tmp_path):
    """Our hand-rolled OCF layer must interoperate with Apache Avro itself
    (the avro-1.12 jar on Spark's classpath): files we write are read back
    record-for-record by org.apache.avro.file.DataFileReader, and files
    Apache Avro writes (null codec, its own random sync marker) decode
    with our reader. Multi-block layout and loud failures are pinned."""
    from datafusion_impl_spark.sources.queries import (
        _AVRO_BLOCK_RECORDS,
        _AVRO_SCHEMA_JSON,
        _avro_decode,
        _avro_encode_shard,
    )

    rows = [
        (i, i % 7, float(i) / 4.0, i * 1.25, "ARN"[i % 3],
         None if i % 11 == 0 else "FO"[i % 2])
        for i in range(2500)  # > 2 blocks at 1000 records/block
    ]
    blob = _avro_encode_shard(5, iter(rows))
    assert list(_avro_decode(blob)) == rows

    # our writer → Apache Avro's reader
    p = str(tmp_path / "ours.avro")
    with open(p, "wb") as f:
        f.write(blob)
    jvm = spark._jvm
    rdr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    n = 0
    while rdr.hasNext():
        rec = rdr.next()
        ls = rec.get("l_linestatus")
        got = (
            rec.get("l_orderkey"), rec.get("l_linenumber"),
            rec.get("l_quantity"), rec.get("l_extendedprice"),
            str(rec.get("l_returnflag")), None if ls is None else str(ls),
        )
        assert got == rows[n], (n, got)
        n += 1
    rdr.close()
    assert n == len(rows)

    # Apache Avro's writer → our reader
    schema = jvm.org.apache.avro.Schema.Parser().parse(_AVRO_SCHEMA_JSON)
    p2 = str(tmp_path / "theirs.avro")
    wtr = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter()
    )
    wtr.create(schema, jvm.java.io.File(p2))
    for ok, ln, qty, price, rf, ls in rows[:50]:
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("l_orderkey", ok)
        rec.put("l_linenumber", ln)
        rec.put("l_quantity", qty)
        rec.put("l_extendedprice", price)
        rec.put("l_returnflag", rf)
        rec.put("l_linestatus", ls)
        wtr.append(rec)
    wtr.close()
    with open(p2, "rb") as f:
        theirs = f.read()
    assert list(_avro_decode(theirs)) == rows[:50]

    # corrupt containers fail loudly
    for bad in (
        b"NOTAVRO",
        blob[:40],                      # truncated metadata
        blob[:-10],                     # truncated final block/sync
        blob[:-16] + b"\x00" * 16,      # sync marker mismatch
        blob.replace(b"deflate", b"snappyx", 1),  # unknown codec
    ):
        with pytest.raises(ValueError):
            list(_avro_decode(bad))


def test_protobuf_wire_codec_roundtrip_unknown_fields_malformed(spark):
    """The wire-format pair must round-trip unicode text and BOTH zigzag
    branches, skip the planted unknown fixed64 field (and an injected
    unknown fixed32/varint) without disturbing later fields, and fail
    loudly on truncation, varint overflow, and unsupported wire types."""
    from datafusion_impl_spark.sources.queries import (
        _pb_decode_stream,
        _pb_encode_doc,
        _pb_varint,
    )

    rows = [
        (0, "héllo wörld   newline\ntab\t", "src0", 48),     # negative
        (7, "x" * 600, "src1", 600),                              # positive
        (12, "", "src2", 0),                                      # empty text
        (99, "中文 текст mixed", "src3", 500),                    # zero signed
    ]
    stream = bytearray()
    for doc_id, text, source, n_chars in rows:
        msg = _pb_encode_doc(doc_id, text, source, n_chars)
        stream += _pb_varint(len(msg)) + msg
    assert list(_pb_decode_stream(bytes(stream))) == rows

    # inject EXTRA unknown fields (varint field 9, fixed32 field 10) into a
    # message — a forward-compatible reader must skip them
    msg = _pb_encode_doc(5, "abc", "s", 3)
    extra = _pb_varint(9 << 3 | 0) + _pb_varint(12345)
    extra += _pb_varint(10 << 3 | 5) + b"\x01\x02\x03\x04"
    patched = extra + msg  # unknown fields first: later fields must survive
    framed = _pb_varint(len(patched)) + patched
    assert list(_pb_decode_stream(bytes(framed))) == [(5, "abc", "s", 3)]

    good = _pb_varint(len(msg)) + msg
    for bad in (
        good[:-3],                            # truncated message
        good[:1],                             # frame length, no body
        _pb_varint(50) + msg,                 # frame length beyond data
        _pb_varint(len(msg) + 1) + msg[:-1] + b"\x83",  # dangling varint
        _pb_varint(2) + _pb_varint(1 << 3 | 3),  # unsupported wire type 3
        b"\xff" * 11,                         # varint overflow
    ):
        with pytest.raises(ValueError):
            list(_pb_decode_stream(bytes(bad)))


def test_zstd_seekable_shard_roundtrip_and_malformed_frames():
    """The seekable-zstd shard layer (r14): build → read must round-trip
    record-aligned chunks exactly, the seek table must drive the decode
    (independent frames), and every malformed-byte class must fail LOUDLY
    — truncated shard, bad footer magic, bad skippable magic, bad frame
    magic, lying seek-table sizes."""
    import struct

    import pytest

    from datafusion_impl_spark.sources.queries import (
        _ZST_FRAME_MAGIC,
        _ZST_SEEKABLE_MAGIC,
        _zst_build_shard,
        _zst_read_shard,
    )

    chunks = [b"alpha\n" * 10, b"beta\n" * 7, b"\xe2\x80\xa8raw-ls\n"]
    blob = _zst_build_shard(chunks)
    assert _zst_read_shard(blob) == chunks
    # each frame is independently decodable: re-reading a shard built from
    # only the SECOND chunk yields it alone (no cross-frame history)
    assert _zst_read_shard(_zst_build_shard(chunks[1:2])) == chunks[1:2]
    # the shard's first four bytes are a real zstd frame magic
    assert struct.unpack_from("<I", blob, 0)[0] == _ZST_FRAME_MAGIC
    assert struct.unpack_from("<I", blob, len(blob) - 4)[0] == (
        _ZST_SEEKABLE_MAGIC
    )

    with pytest.raises(ValueError):
        _zst_read_shard(blob[:10])                      # truncated
    with pytest.raises(ValueError):
        _zst_read_shard(blob[:-4] + b"\x00\x00\x00\x00")  # footer magic
    with pytest.raises(ValueError):
        # corrupt the skippable-frame magic (first byte of the skippable
        # header): locate it from the footer's frame count
        n_frames = struct.unpack_from("<I", blob, len(blob) - 9)[0]
        skip_start = len(blob) - (8 * n_frames + 9) - 8
        _zst_read_shard(
            blob[:skip_start] + b"\x00" + blob[skip_start + 1:]
        )
    with pytest.raises(ValueError):
        _zst_read_shard(b"\x00" + blob[1:])             # frame magic
    with pytest.raises(ValueError):
        # lie about the first frame's compressed size: frames no longer
        # tile the shard (or the slice fails to decode)
        n_frames = struct.unpack_from("<I", blob, len(blob) - 9)[0]
        skip_start = len(blob) - (8 * n_frames + 9) - 8
        entry0 = skip_start + 8
        csize0, dsize0 = struct.unpack_from("<II", blob, entry0)
        _zst_read_shard(
            blob[:entry0]
            + struct.pack("<II", csize0 - 1, dsize0)
            + blob[entry0 + 8:]
        )


def test_warc_record_roundtrip_embedded_crlf_and_malformed():
    """The r14 WARC layer: record build → scan must round-trip through
    BOTH framing layers, including payloads that embed CRLF CRLF (the
    case that kills sniffing readers); every malformed-grammar class must
    raise loudly."""
    from types import SimpleNamespace

    import pytest

    from datafusion_impl_spark.sources.queries import (
        _warc_build_shard,
        _warc_record,
        _warc_scan,
    )

    rows = [
        SimpleNamespace(doc_id=7, text="plain words here"),
        # embedded blank line + CRLFs inside the body: Content-Length must
        # carry the framing straight through it
        SimpleNamespace(doc_id=11, text="top\r\n\r\nbottom\r\nmore"),
        SimpleNamespace(doc_id=15, text=""),
    ]
    blob = _warc_build_shard(3, rows)
    got = list(_warc_scan(blob))
    assert got[0][0] == "warcinfo"
    resp = [(uri, body.decode())
            for t, uri, body, _h in got if t == "response"]
    assert resp == [
        (f"http://corpus.example/doc/{r.doc_id}", r.text) for r in rows
    ]

    with pytest.raises(ValueError):
        list(_warc_scan(b"WARC/0.9\r\n\r\n"))            # bad version
    with pytest.raises(ValueError):
        list(_warc_scan(blob[:-2]))                       # lost trailer CRLF
    with pytest.raises(ValueError):
        list(_warc_scan(blob[: len(blob) // 2]))          # truncated payload
    no_len = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nxx\r\n\r\n"
    )
    with pytest.raises(ValueError):
        list(_warc_scan(no_len))                          # no Content-Length
    # response record whose inner HTTP Content-Length lies
    bad_http = _warc_record(
        [
            ("WARC-Type", "response"),
            ("WARC-Target-URI", "http://corpus.example/doc/1"),
        ],
        b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nshort",
    )
    with pytest.raises(ValueError):
        list(_warc_scan(bad_http))


def test_robots_precedence_and_gate_shard_roundtrip():
    """r15 compliance gate: RFC 9309 precedence pinned at the kernel level
    — longest-match wins, allow beats disallow on EQUAL length, the
    specific user-agent group preempts * wholesale, empty Disallow is a
    no-op, and a host with no robots.txt allows everything. Plus the
    compliance shard round-trip: robots records, the X-Robots-Tag header,
    and the meta-noindex body must all come back from bytes."""
    from types import SimpleNamespace

    from datafusion_impl_spark.sources.queries import (
        _NOINDEX_META_TAG,
        _robots_allowed,
        _robots_parse,
        _warc_build_compliance_shard,
        _warc_scan,
    )

    rules = _robots_parse(
        "# comment line\n"
        "User-agent: a\n"
        "User-agent: b\n"        # multi-agent group header
        "Disallow: /x/\n"
        "Allow: /x/y/\n"
        "Crawl-delay: 10\n"      # unknown directive ignored
        "\n"
        "User-agent: *\n"
        "Disallow:\n"            # empty value: no-op, dropped
        "Disallow: /z\n"
        "Allow: /z\n"            # tie with the line above
    )
    assert ("a", 0, "/x/") in rules and ("b", 1, "/x/y/") in rules
    assert all(p for _a, _i, p in rules)  # empty-value rule dropped
    # longest-match: /x/y/1 matches Disallow:/x/ (4) and Allow:/x/y/ (5)
    assert _robots_allowed(rules, "a", "/x/y/1") is True
    assert _robots_allowed(rules, "a", "/x/other") is False
    # tie: Allow:/z and Disallow:/z both length 2 -> allow wins
    assert _robots_allowed(rules, "c", "/z/1") is True
    # group selection: agent 'a' has a group, so *'s /z rules don't apply
    assert _robots_allowed(rules, "a", "/z/1") is True
    # no rules at all -> allowed
    assert _robots_allowed([], "a", "/anything") is True

    rows = [
        SimpleNamespace(doc_id=0, source="web", text="hdr noindex doc"),
        SimpleNamespace(doc_id=8, source="web", text="meta noindex doc"),
        SimpleNamespace(doc_id=16, source="news", text="clean doc"),
    ]
    blob = _warc_build_compliance_shard(0, rows)
    got = list(_warc_scan(blob))
    robots = [(u, b) for t, u, b, _h in got if u.endswith("/robots.txt")]
    assert robots == [
        ("http://host0.example/robots.txt",
         b"User-agent: *\nDisallow: /private/\nAllow: /private/doc/\n"
         b"Disallow: /tmp/\nCrawl-delay: 2\n")
    ]
    pages = {
        int(u.rsplit("/", 1)[1]): (u, b.decode(), h)
        for t, u, b, h in got
        if t == "response" and not u.endswith("/robots.txt")
    }
    # doc 0: %7==0 -> X-Robots-Tag header, plain body
    u, b, h = pages[0]
    assert h.get("x-robots-tag") == "noindex" and _NOINDEX_META_TAG not in b
    assert h.get("x-corpus-source") == "web"
    # doc 8: %7==1 -> meta tag in an HTML body, no header
    u, b, h = pages[8]
    assert "x-robots-tag" not in h and _NOINDEX_META_TAG in b
    assert "meta noindex doc" in b
    # doc 16: clean; host = 16 % 6 = 4, section = 16 % 4 = 0 -> public
    u, b, h = pages[16]
    assert u == "http://host4.example/public/doc/16"
    assert "x-robots-tag" not in h and _NOINDEX_META_TAG not in b


def test_iceberg_v1_read_scans_only_v1_files(spark):
    """r15 time travel: the ``AS OF v1`` read must touch ONLY the files
    v1's manifest lists (manifest-pruned scan — the whole point of
    snapshot isolation), the v2 read exactly the union with the appended
    files, and every manifest stat (rows, key range) must match what the
    scan actually returns."""
    import os

    from pyspark.sql import functions as F

    from datafusion_impl_spark.sources.queries import (
        _iceberg_read,
        _iceberg_stage,
    )
    from tests.conftest import SF_DIR

    root = _iceberg_stage(SF_DIR)
    v1, m1 = _iceberg_read(spark, SF_DIR, 1)
    v2, m2 = _iceberg_read(spark, SF_DIR, 2)

    def scanned(df) -> set[str]:
        return {
            os.path.basename(r.f)
            for r in df.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
        }

    m1_files = {os.path.basename(e["path"]) for e in m1["files"]}
    m2_files = {os.path.basename(e["path"]) for e in m2["files"]}
    assert scanned(v1) == m1_files
    assert scanned(v2) == m2_files
    appended = m2_files - m1_files
    assert appended and all(f.startswith("append-") for f in appended)

    # manifest stats are live metadata, not decoration: per-file row
    # counts and key ranges must match the actual scan
    per_file = {
        os.path.basename(r.f): (r.n, r.kmin, r.kmax)
        for r in v2.select(
            F.input_file_name().alias("f"), "o_orderkey"
        )
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("kmin"),
            F.max("o_orderkey").alias("kmax"),
        )
        .collect()
    }
    for e in m2["files"]:
        name = os.path.basename(e["path"])
        assert per_file[name] == (e["rows"], e["min_key"], e["max_key"])

    # append-only isolation: v1's rows are exactly v2 minus the appended
    # keys (o_orderkey % 3 == 0)
    assert v1.count() == v2.filter(F.col("o_orderkey") % 3 != 0).count()


def test_iceberg_v3_merge_on_read_scans_no_rewritten_files(spark):
    """r16 position deletes: the ``AS OF v3`` read must scan EXACTLY the
    v1∪v2 data files (a delete snapshot rewrites nothing), the delete
    side must be the bounded position file (one row per deleted row, no
    payload), and merge-on-read must equal the copy-on-write rewrite
    row-for-row."""
    import os

    from pyspark.sql import functions as F

    from datafusion_impl_spark.sources.queries import (
        _ICEBERG_DELETE_MOD,
        _ICEBERG_DELETE_RES,
        _iceberg_read,
        _iceberg_read_v3,
    )
    from tests.conftest import SF_DIR

    v2, m2 = _iceberg_read(spark, SF_DIR, 2)
    mor, m3 = _iceberg_read_v3(spark, SF_DIR, keep_meta=True)

    # no rewrite: v3's data-file list is byte-identical to v2's, and the
    # rows the MOR read actually produces come only from those files
    assert m3["files"] == m2["files"]
    scanned = {r._fn for r in mor.select("_fn").distinct().collect()}
    assert scanned == {os.path.basename(e["path"]) for e in m2["files"]}

    # the delete file is bounded metadata: exactly one row per deleted
    # data row, and the manifest's row count is live
    n_v2 = v2.count()
    n_deleted = v2.filter(
        F.col("o_orderkey") % _ICEBERG_DELETE_MOD == _ICEBERG_DELETE_RES
    ).count()
    assert m3["delete_files"][0]["rows"] == n_deleted
    assert mor.count() == n_v2 - n_deleted

    # merge-on-read == copy-on-write, key for key
    cow_keys = {
        r.o_orderkey
        for r in v2.filter(
            F.col("o_orderkey") % _ICEBERG_DELETE_MOD
            != _ICEBERG_DELETE_RES
        ).select("o_orderkey").collect()
    }
    mor_keys = {r.o_orderkey for r in mor.select("o_orderkey").collect()}
    assert mor_keys == cow_keys


def test_bloom_rowgroup_skipping_never_false_negative(spark):
    """r16 bloom sidecar: the membership contract — a bloom may
    over-admit (false positives are the price) but NEVER under-admit: a
    present key must read bloom_maybe in its own row group. Also pins
    that the hash layout actually skips (every row group skips most
    probes) and that all planted present keys land somewhere."""
    from datafusion_impl_spark.sources.queries import (
        _BRG_PROBES,
        _BRG_RGS,
        parquet_bloom_rowgroup_skipping,
    )
    from tests.conftest import SF_DIR

    rows = parquet_bloom_rowgroup_skipping(spark, SF_DIR).collect()
    assert len(rows) == _BRG_RGS
    assert all(r.n_false_neg == 0 for r in rows)
    # present keys are distributed across groups and all accounted for
    assert sum(r.n_present for r in rows) == _BRG_PROBES
    # the layout defeats min/max pruning, the bloom still skips most
    # probes in every group
    for r in rows:
        assert r.n_skipped > r.n_probes // 2
        assert r.n_maybe == r.n_present + r.n_false_pos


def test_iceberg_v4_compaction_equals_mor_and_gc_reclaims_expired(spark):
    """r16 compaction + expiry: the v4 rewrite (which applies deletes by
    FILE+POSITION from the delete file, never by predicate) must hold
    exactly the v3 merge-on-read row set; after expiring v1–v3, the only
    live files are v4's and the GC reclaims every pre-compaction file."""
    import json
    import os

    from datafusion_impl_spark.sources.queries import (
        _ICEBERG_V4_FILES,
        _iceberg_read_v3,
        _iceberg_stage_v4,
        iceberg_snapshot_expiry_gc,
    )
    from tests.conftest import SF_DIR

    root = _iceberg_stage_v4(SF_DIR)
    with open(os.path.join(root, "metadata", "v4.manifest.json")) as f:
        m4 = json.load(f)
    v4 = spark.read.parquet(
        *[os.path.join(root, e["path"]) for e in m4["files"]]
    )
    mor, _ = _iceberg_read_v3(spark, SF_DIR)
    v4_keys = {r.o_orderkey for r in v4.select("o_orderkey").collect()}
    mor_keys = {r.o_orderkey for r in mor.select("o_orderkey").collect()}
    assert v4_keys == mor_keys
    assert sum(e["rows"] for e in m4["files"]) == len(v4_keys)

    gc = {r.kind: r for r in iceberg_snapshot_expiry_gc(spark, SF_DIR).collect()}
    assert set(gc) == {"base", "append", "compact", "delete"}
    assert gc["compact"].n_live == _ICEBERG_V4_FILES
    assert gc["compact"].n_orphans == 0
    for kind in ("base", "append", "delete"):
        assert gc[kind].n_live == 0
        assert gc[kind].n_orphans == gc[kind].n_files
        assert gc[kind].rows_reclaimed == gc[kind].rows_total


def test_pdf_build_extract_strictness_and_interop():
    """r15 PDF scan: the parser must walk the real document tree (xref →
    catalog → pages → page → contents), recover text byte-exactly through
    escaping and the own-writer FlateDecode layer, and refuse malformed
    structures loudly — wrong xref offsets, lying /Length, truncated
    trailers, corrupt deflate, unknown escapes."""
    import re

    import pytest

    from datafusion_impl_spark.sources.queries import (
        _pdf_build,
        _pdf_extract,
    )

    text = "with (parens) and \\ slash\nand a newline"
    blob = _pdf_build(1, text)          # odd id -> FlateDecode path
    assert b"/FlateDecode" in blob
    assert _pdf_extract(blob)["text"] == text
    plain = _pdf_build(2, text)         # even id -> uncompressed path
    assert b"/FlateDecode" not in plain
    assert _pdf_extract(plain)["text"] == text

    with pytest.raises(ValueError):
        _pdf_extract(b"NOTAPDF" + blob[7:])          # bad header
    with pytest.raises(ValueError):
        _pdf_extract(blob[:-12])                      # lost %%EOF trailer
    # startxref pointing into the middle of an object
    bad = re.sub(rb"startxref\n\d+", b"startxref\n10", blob)
    with pytest.raises(ValueError):
        _pdf_extract(bad)
    # xref offset for object 3 shifted by one: the object-header check
    # at the offset must catch it
    m = re.search(rb"\n(\d{10}) 00000 n\r\n", blob)
    entries_at = blob.index(b"0000000000 65535 f")
    e3 = entries_at + 20 * 3
    off3 = int(blob[e3:e3 + 10])
    bad2 = blob[:e3] + f"{off3 + 1:010d}".encode() + blob[e3 + 10:]
    with pytest.raises(ValueError):
        _pdf_extract(bad2)
    # lying /Length (stream frame check)
    bad3 = re.sub(rb"/Length (\d+)",
                  lambda mm: b"/Length " + str(int(mm.group(1)) + 3).encode(),
                  blob, count=1)
    with pytest.raises(ValueError):
        _pdf_extract(bad3)
    # corrupt deflate byte inside the compressed stream
    s_at = blob.index(b"stream\n") + 7
    bad4 = blob[:s_at + 4] + bytes([blob[s_at + 4] ^ 0xFF]) + blob[s_at + 5:]
    with pytest.raises(Exception):   # zlib.error or ValueError
        _pdf_extract(bad4)
    # unknown escape sequence in a literal string (uncompressed path) —
    # /Length is patched to keep the stream frame valid, so the failure
    # is genuinely the escape walk, not the framing check
    at = plain.index(b"(")
    bad5 = plain[:at + 1] + b"\\q" + plain[at + 1:]
    bad5 = re.sub(
        rb"/Length (\d+)",
        lambda mm: b"/Length " + str(int(mm.group(1)) + 2).encode(),
        bad5, count=1,
    )
    # the 2 injected bytes shift the xref table and startxref; objects
    # 1-4 precede the insertion so their offsets stay valid, object 5 is
    # never fetched by the walk — patch startxref and the failure is
    # genuinely the escape walk
    bad5 = re.sub(
        rb"startxref\n(\d+)",
        lambda mm: b"startxref\n" + str(int(mm.group(1)) + 2).encode(),
        bad5,
    )
    with pytest.raises(ValueError, match="escape"):
        _pdf_extract(bad5)


def test_crawl_delay_parse_and_schedule_invariants(spark):
    """r15 politeness scheduler: Crawl-delay group selection mirrors the
    rule parser (trainbot group wins on host 1: delay 5 not 9), hosts
    without a directive fall back to the default, and per-host makespan
    is exactly (n_pages - 1) * delay with the critical path flagged on
    the global max."""
    from datafusion_impl_spark.sources.queries import (
        _CRAWL_DELAY_DEFAULT,
        _ROBOTS_TXT,
        _robots_parse_delays,
        crawl_politeness_schedule,
    )
    from tests.conftest import SF_DIR

    d1 = _robots_parse_delays(_ROBOTS_TXT[1])
    assert ("trainbot", 5) in d1 and ("*", 9) in d1
    assert _robots_parse_delays(_ROBOTS_TXT[2]) == []

    rows = {r.host: r for r in
            crawl_politeness_schedule(spark, SF_DIR).collect()}
    assert rows[1].crawl_delay_s == 5          # group selection
    assert rows[0].crawl_delay_s == 2
    assert rows[3].crawl_delay_s == 3
    for h in (2, 4, 5):
        assert rows[h].crawl_delay_s == _CRAWL_DELAY_DEFAULT
    gmax = max(r.makespan_s for r in rows.values())
    for r in rows.values():
        assert r.makespan_s == (r.n_pages - 1) * r.crawl_delay_s
        assert r.is_critical_path == int(r.makespan_s == gmax)
    assert sum(r.is_critical_path for r in rows.values()) >= 1


def test_sitemap_coverage_reconciliation(spark):
    """r15 sitemap audit: phantoms are exactly the planted count per
    host, every even-(doc_id//hosts) page is listed AND crawled, odd ones
    are crawled-but-unlisted, and the reconciliation conserves totals."""
    from datafusion_impl_spark.sources.queries import (
        _SITEMAP_PHANTOMS,
        crawl_sitemap_coverage_audit,
    )
    from tests.conftest import SF_DIR

    rows = crawl_sitemap_coverage_audit(spark, SF_DIR).collect()
    assert len(rows) == 6
    for r in rows:
        assert r.n_phantom == _SITEMAP_PHANTOMS
        assert r.n_listed == r.n_both + r.n_phantom
        assert r.n_crawled == r.n_both + r.n_unlisted
        assert 0 < r.coverage_bps < 10000
        assert r.max_lastmod.startswith("2024-01-")
