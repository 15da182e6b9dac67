"""Structured Streaming tests: stream-vs-batch equivalence (the unified-model
guarantee), session windows, and the custom stateful operator.

Each test copies events.parquet into a tmp streaming source dir (file-source
streams read directories), runs with trigger(availableNow=True) into a memory
sink, and compares against the identical batch plan.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from datafusion_impl_spark import streaming as stx
from datafusion_impl_spark.session import scoped_conf
from datafusion_impl_spark.sources.registry import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def _run_stream(df, name: str, mode: str = "complete"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _batch_events(spark):
    return load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@pytest.fixture(scope="module")
def dup_events_dir(tmp_path_factory):
    """Source dir with the SAME file twice — an at-least-once delivery
    simulation; with maxFilesPerTrigger=1 the duplicates arrive in a LATER
    micro-batch, so dedup state must survive across batches."""
    d = tmp_path_factory.mktemp("events_stream_dup")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-001.parquet")
    return str(d)


def test_stream_dedup_across_microbatches(spark, dup_events_dir):
    st = stx.dedup_event_ids(stx.stream_events(spark, dup_events_dir))
    _run_stream(st, "dedup_ids", mode="append")
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_ids").first()
    expected = _batch_events(spark).select("event_id").distinct().count()
    assert got.n == expected == got.d


def test_stream_static_join_equals_batch(spark, events_dir):
    cust = load_table(spark, SF_DIR, "customer")
    st = stx.stream_static_segment_counts(stx.stream_events(spark, events_dir), cust)
    _run_stream(st, "seg_counts")
    got = {
        (r.c_mktsegment): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM seg_counts").collect()
    }
    expected = {
        (r.c_mktsegment): (r.n_events, r.sum_value)
        for r in stx.stream_static_segment_counts(_batch_events(spark), cust).collect()
    }
    assert got == expected and len(got) > 0


def test_stream_stream_join_equals_batch(spark, events_dir):
    st = stx.click_purchase_attribution(stx.stream_events(spark, events_dir))
    _run_stream(st, "attribution", mode="append")
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM attribution").collect()
    }
    expected = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in stx.click_purchase_attribution(_batch_events(spark)).collect()
    }
    assert got == expected and len(got) > 0


def test_stream_source_schema(spark, events_dir):
    st = stx.stream_events(spark, events_dir)
    assert st.isStreaming
    assert dict(st.dtypes)["ts"] == "timestamp"


def test_outer_stream_join_matches_batch_up_to_watermark_horizon(spark, events_dir):
    """Left-outer stream-stream join: matched pairs must equal the batch
    join exactly; null-extended (unconverted) rows are emitted only when the
    watermark passes the click's join-window end, so at stream end clicks
    younger than (watermark + window) = 3h before the max event time may
    still be held in state. Within that horizon the stream must equal the
    batch answer row-for-row, and nothing the stream emits may be absent
    from the batch answer."""
    st = stx.click_conversion_outer(stx.stream_events(spark, events_dir))
    _run_stream(st, "conv_outer", mode="append")
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM conv_outer").collect()
    }
    batch = stx.click_conversion_outer(_batch_events(spark)).collect()
    want_all = {(r.user_id, r.click_id, r.purchase_id) for r in batch}
    assert got <= want_all and got
    max_ts = max(r.click_ts for r in batch)
    horizon = max_ts - __import__("datetime").timedelta(hours=3)
    want_old = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in batch
        if r.click_ts <= horizon
    }
    got_old = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.sql(
            "SELECT * FROM conv_outer WHERE click_ts <= timestamp'"
            + horizon.strftime("%Y-%m-%d %H:%M:%S")
            + "'"
        ).collect()
    }
    assert got_old == want_old
    # the outer join's whole point: unconverted clicks appear as null rows
    assert any(p is None for (_, _, p) in got_old)


def test_stream_source_reads_nanos_shape(spark, events_dir, tmp_path):
    """events.parquet has shipped as TIMESTAMP(NANOS) in some testdata
    generations: the stream factory must sniff the footer and normalize that
    shape to the same session-tz timestamps as the MICROS path (the batch
    loader already does; a static NTZ schema would fail at source read under
    the session-wide nanosAsLong conf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    ts_ns = tbl.column("ts").cast(pa.timestamp("ns"))
    nanos_dir = tmp_path / "events_nanos"
    nanos_dir.mkdir()
    pq.write_table(
        tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_ns),
        nanos_dir / "part-000.parquet",
        use_deprecated_int96_timestamps=False,
        coerce_timestamps=None,
    )
    assert stx._ts_is_nanos(str(nanos_dir))
    st = stx.windowed_event_counts(stx.stream_events(spark, str(nanos_dir)))
    assert dict(st.dtypes)["window_start"] == "timestamp"
    _run_stream(st, "win_counts_nanos")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_counts_nanos").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in stx.windowed_event_counts(_batch_events(spark)).collect()
    }
    assert got == expected and len(got) > 0


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    st = stx.windowed_event_counts(stx.stream_events(spark, events_dir))
    _run_stream(st, "win_counts")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in stx.windowed_event_counts(_batch_events(spark)).collect()
    }
    assert got == expected and len(got) > 0


def test_sliding_avg_stream_equals_batch(spark, events_dir):
    st = stx.sliding_value_avg(stx.stream_events(spark, events_dir))
    _run_stream(st, "slide_avg")
    got = {
        (r.window_start, r.event_type): r.avg_value
        for r in spark.sql("SELECT * FROM slide_avg").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.avg_value
        for r in stx.sliding_value_avg(_batch_events(spark)).collect()
    }
    assert got == expected and len(got) > 0


def test_session_windows_stream_equals_batch(spark, events_dir):
    st = stx.session_window_counts(stx.stream_events(spark, events_dir))
    _run_stream(st, "sess_counts")
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    }
    expected = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in stx.session_window_counts(_batch_events(spark)).collect()
    }
    assert got == expected and len(got) > 0


def test_foreachbatch_sink_writes_parquet(spark, events_dir, tmp_path):
    """foreachBatch: the escape hatch for arbitrary batch sinks from a
    stream — here incrementally writing windowed aggregates to parquet."""
    out = str(tmp_path / "agg_out")
    st = stx.windowed_event_counts(stx.stream_events(spark, events_dir))

    def write_batch(batch_df, batch_id: int):
        batch_df.write.mode("append").parquet(out)

    q = (
        st.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    expected = stx.windowed_event_counts(_batch_events(spark)).count()
    assert back.count() == expected


def test_running_user_counts_stateful(spark, events_dir):
    st = stx.running_user_counts(stx.stream_events(spark, events_dir))
    _run_stream(st, "running_counts", mode="update")
    rows = spark.sql(
        "SELECT user_id, MAX(total_events) AS total FROM running_counts GROUP BY user_id"
    ).collect()
    expected = {
        r.user_id: r.n
        for r in _batch_events(spark).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    got = {r.user_id: r.total for r in rows}
    assert got == expected and len(got) > 0


def test_checkpoint_recovery_resumes_state(spark, tmp_path):
    """Exactly-once recovery: a windowed aggregation runs over file 1 with a
    checkpointLocation, stops, file 2 lands, and a RESTARTED query (same
    checkpoint) must pick up only the new file and produce the same final
    counts as a batch over both files — state survives the restart."""
    import shutil as _sh

    src = tmp_path / "src"; src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _sh.copy(f"{SF_DIR}/events.parquet", src / "f1.parquet")

    def start():
        df = stx.windowed_event_counts(stx.stream_events(spark, str(src)))
        return (df.writeStream.format("memory").queryName("recov")
                .outputMode("complete").option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    q1 = start(); q1.awaitTermination(120)
    n_first = spark.sql("SELECT SUM(n_events) AS s FROM recov").first().s

    # second delivery: the SAME data again (new file name -> new input)
    _sh.copy(f"{SF_DIR}/events.parquet", src / "f2.parquet")
    q2 = start(); q2.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM recov").collect()
    }
    expected = {
        (r.window_start, r.event_type): 2 * r.n_events
        for r in stx.windowed_event_counts(_batch_events(spark)).collect()
    }
    assert sum(got.values()) == 2 * n_first
    assert got == expected


@pytest.fixture(scope="module")
def docs_stream_dir(tmp_path_factory, spark):
    """Streaming source dir for documents (with a synthesized event-time
    column), the SAME file twice — re-delivery across micro-batches."""
    d = tmp_path_factory.mktemp("docs_stream")
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    ).withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1_000_000_000))
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "batch0"))
    import glob

    src = tmp_path_factory.mktemp("docs_stream_src")
    part = glob.glob(str(d / "batch0" / "part-*.parquet"))[0]
    shutil.copy(part, src / "part-000.parquet")
    shutil.copy(part, src / "part-001.parquet")
    return str(src)


def test_stream_corpus_dedup_equals_batch(spark, docs_stream_dir):
    """The streaming corpus-ingestion dedup (stream-static anti-join +
    within-watermark content dedup) must ingest each new content exactly
    once even when the source re-delivers every document."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    index = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(stx.md5_long(F.col("text")).alias("h"))
        .distinct()
    )
    schema = "doc_id long, lang string, text string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_stream_dir)
    )
    st = stx.dedup_stream_new_content(stream, index)
    q = (
        st.writeStream.format("memory")
        .queryName("corpus_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT h) AS d FROM corpus_dedup"
    ).first()
    batch = stx.dedup_stream_new_content(
        docs.withColumn(
            "ts", F.timestamp_seconds(F.col("doc_id") + 1_000_000_000)
        ),
        index,
    )
    expected = batch.count()
    assert got.n == expected == got.d
    assert expected > 0


def test_stream_near_dup_flags_equals_batch(spark, tmp_path):
    """Streaming near-dup flagging (row-wise bands + stream-static index
    join) must flag exactly the docs the batch twin flags — planted copies
    yes, token-reversed novels no — once each, despite re-delivery."""
    from datafusion_impl_spark.operators.dedup import (
        _DUP_OFFSET,
        near_dup_corpus,
        rowwise_bands,
    )
    from datafusion_impl_spark.operators.text import tokens

    corpus = near_dup_corpus(spark, SF_DIR)
    originals = corpus.filter(F.col("doc_id") < _DUP_OFFSET)
    index = rowwise_bands(originals).select(
        F.col("doc_id").alias("match_id"), "band", "bkey"
    )
    novel = originals.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 3 * _DUP_OFFSET).alias("doc_id"),
        "lang",
        F.concat_ws(" ", F.reverse(tokens("text"))).alias("text"),
    )
    arriving = (
        corpus.filter(F.col("doc_id") >= _DUP_OFFSET)
        .unionByName(novel)
        .withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1_000_000_000))
    )
    arriving.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
    import glob

    part = glob.glob(str(tmp_path / "w" / "part-*.parquet"))[0]
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(part, src / "part-000.parquet")
    shutil.copy(part, src / "part-001.parquet")  # re-delivery

    schema = "doc_id long, lang string, text string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    st = stx.flag_stream_near_dups(stream, index)
    q = (
        st.writeStream.format("memory")
        .queryName("near_flags")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT doc_id) AS d FROM near_flags"
    ).first()
    batch_flagged = stx.flag_stream_near_dups(arriving, index).count()
    assert got.n == batch_flagged == got.d
    # the novel (token-reversed) docs must NOT be flagged
    novel_flagged = spark.sql(
        f"SELECT COUNT(*) AS n FROM near_flags WHERE doc_id >= {3 * _DUP_OFFSET}"
    ).first().n
    assert novel_flagged == 0
    assert batch_flagged > 0


def _rocksdb_state(spark):
    """transformWithState needs a state store with multiple column
    families — the default HDFSBackedStateStoreProvider refuses; RocksDB
    (bundled rocksdbjni) supports it. Scoped to the TWS tests so every
    other streaming test keeps exercising the default provider."""
    return scoped_conf(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        },
    )


def _has_protobuf() -> bool:
    """True when the protobuf runtime is importable — including via the
    google-cloud-sdk shim (datafusion_impl_spark.pbshim), which the session
    factory installs before the JVM starts; since r6 this makes the
    transformWithState runtime tests RUN in this container."""
    from datafusion_impl_spark.pbshim import ensure_protobuf

    return ensure_protobuf()


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (state-server "
    "protocol) and neither a real install nor the gcloud-vendored shim "
    "runtime is available — operator code is exercised for plan "
    "construction below either way",
)
def test_transform_with_state_matches_batch(spark, events_dir):
    """transformWithStateInPandas running totals must converge to the batch
    per-user aggregate (count + value sum)."""
    st = stx.user_running_totals_tws(stx.stream_events(spark, events_dir))
    with _rocksdb_state(spark):
        _run_stream(st, "tws_totals", mode="update")
    rows = spark.sql(
        "SELECT user_id, MAX(n_events) AS n, MAX(sum_value) AS s "
        "FROM tws_totals GROUP BY user_id"
    ).collect()
    expected = {
        r.user_id: (r.n, r.s)
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    got = {r.user_id: (r.n, r.s) for r in rows}
    assert len(got) == len(expected) > 0
    for u, (n, sv) in expected.items():
        gn, gs = got[u]
        assert gn == n
        assert abs(gs - sv) < 1e-6


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf",
)
def test_transform_with_state_accumulates_across_batches(spark, dup_events_dir):
    """ValueState must survive micro-batch boundaries: with the same file
    delivered twice across two triggers (maxFilesPerTrigger=1), the final
    totals are exactly double the single-delivery batch totals."""
    src = stx.stream_events(spark, dup_events_dir)
    # force the two files into separate micro-batches
    src = src.sparkSession.readStream.schema(src.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(dup_events_dir) if False else src
    st = stx.user_running_totals_tws(src)
    with _rocksdb_state(spark):
        q = (
            st.writeStream.format("memory")
            .queryName("tws_totals_dup")
            .outputMode("update")
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, MAX(n_events) AS n FROM tws_totals_dup GROUP BY user_id"
    ).collect()
    single = {
        r.user_id: r.n
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r.user_id: r.n for r in rows}
    assert len(got) == len(single) > 0
    for u, n in single.items():
        assert got[u] == 2 * n


def test_transform_with_state_plan_builds(spark, events_dir):
    """Even without protobuf (runtime state protocol), the operator must
    ANALYZE: groupBy().transformWithStateInPandas() with the processor,
    schema, and mode produces a streaming plan with the
    TransformWithStateInPySpark node — the API-contract part that does not
    need the worker."""
    st = stx.user_running_totals_tws(stx.stream_events(spark, events_dir))
    assert st.isStreaming
    assert [f.name for f in st.schema.fields] == ["user_id", "n_events", "sum_value"]
    plan = st._jdf.queryExecution().logical().toString()
    assert "TransformWithState" in plan


@pytest.fixture(scope="module")
def embeddings_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("emb_stream")
    shutil.copy(f"{SF_DIR}/embeddings.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_ivf_assignment_equals_batch(spark, embeddings_dir):
    """Streaming cell assignment (literal-codebook array_max argmin, no
    window) must produce exactly the batch per-cell counts computed with
    the same expression."""
    st = stx.stream_ivf_cell_counts(spark, embeddings_dir, SF_DIR)
    _run_stream(st, "ivf_cells", mode="complete")
    got = {
        r.cell: r["count"]
        for r in spark.sql("SELECT * FROM ivf_cells").collect()
    }
    # batch twin: same expression over a batch read
    from datafusion_impl_spark.sources.registry import load_table

    batch = load_table(spark, SF_DIR, "embeddings")
    import pyspark.sql.functions as F2

    # reuse the operator's own expression by running it as a batch stream
    # equivalent: re-derive via the cosine argmin window (the batch idiom)
    from pyspark.sql import Window

    cent = batch.filter(F2.col("vec_id") < 8).select(
        F2.col("vec_id").alias("cid"),
        F2.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    e = batch.select(
        "vec_id", F2.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    def dot(a, b):
        return F2.aggregate(F2.zip_with(a, b, lambda x, y: x * y), F2.lit(0.0), lambda a_, x: a_ + x)
    nrm = lambda a: F2.sqrt(F2.aggregate(a, F2.lit(0.0), lambda a_, x: a_ + x * x))  # noqa: E731
    sim = F2.round(dot(F2.col("v"), F2.col("cv")) / (nrm(F2.col("v")) * nrm(F2.col("cv"))), 4)
    w = Window.partitionBy("vec_id").orderBy(F2.desc("sim"), F2.asc("cid"))
    assign = (
        e.crossJoin(F2.broadcast(cent))
        .select("vec_id", "cid", sim.alias("sim"))
        .withColumn("rn", F2.row_number().over(w))
        .filter(F2.col("rn") == 1)
    )
    expected = {
        r.cid: r["count"]
        for r in assign.groupBy("cid").count().collect()
    }
    assert got == expected and sum(got.values()) == batch.count()


def test_windowed_unique_users_stream_equals_batch(spark, dup_events_dir):
    """HLL-sketch distinct over windows must be delivery-invariant: the
    same file arriving twice across two micro-batches yields exactly the
    single-delivery batch result — HLL insertion is idempotent per value,
    so at-least-once redelivery cannot inflate the distinct counts (the
    property that makes the sketch safe under replay, where a plain
    count(*) would double)."""
    st = stx.windowed_unique_users(stx.stream_events(spark, dup_events_dir))
    _run_stream(st, "uniq_users", mode="complete")
    got = {
        r.w_start: r.n_users_approx
        for r in spark.sql("SELECT * FROM uniq_users").collect()
    }
    batch = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.approx_count_distinct("user_id").alias("n"))
        .select(F.col("win.start").alias("w_start"), "n")
    )
    expected = {r.w_start: r.n for r in batch.collect()}
    assert got == expected and len(got) > 0


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """Exactly-once at the SINK: an append-mode stream writes parquet with a
    checkpoint; after a stop + new data + restart (same checkpoint and same
    output dir), the sink's committed manifest must contain each input row
    exactly once — no duplicates from the restart, nothing lost. This is
    the file-sink transactional-commit guarantee (the _spark_metadata log)
    that checkpoint recovery alone does not pin."""
    import shutil as _sh

    src = tmp_path / "src"; src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _sh.copy(f"{SF_DIR}/events.parquet", src / "f1.parquet")

    def start():
        ev = stx.stream_events(spark, str(src)).select("event_id", "user_id")
        return (
            ev.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q1 = start(); q1.awaitTermination(120)
    _sh.copy(f"{SF_DIR}/events.parquet", src / "f2.parquet")  # same rows again
    q2 = start(); q2.awaitTermination(120)

    back = spark.read.parquet(out)
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    # two deliveries -> each event_id exactly twice, total exactly 2n
    assert back.count() == 2 * n_events
    per_id = back.groupBy("event_id").count().filter(F.col("count") != 2).count()
    assert per_id == 0


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf",
)
def test_tws_session_timeout_stream_equals_batch(spark):
    """Event-time TIMER semantics (r7): the sessions finalized by
    handleExpiredTimer must be exactly the closed-form batch rule — a user
    fires iff last_event + GAP < global_max - watermark_delay — with their
    full exact-integer-micros totals, independent of the even/odd batch
    split. Also pins that the rule is non-trivial here: some users fire,
    some stay live."""
    from datafusion_impl_spark.streaming import (
        _TWS_GAP_MS,
        _TWS_WM_DELAY_MS,
        stream_tws_session_timeout,
    )

    got = {
        r.user_bucket: (r.n_expired_users, r.n_events, r.value_micros)
        for r in stream_tws_session_timeout(spark, SF_DIR).collect()
    }

    ev = load_table(spark, SF_DIR, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        ).alias("micros"),
        (F.unix_micros(F.max("ts")) / 1000).cast("long").alias("last_ms"),
    )
    gmax_ms = ev.agg(
        (F.unix_micros(F.max("ts")) / 1000).cast("long").alias("g")
    ).first().g
    fired = per_user.filter(
        F.col("last_ms") + _TWS_GAP_MS < F.lit(gmax_ms - _TWS_WM_DELAY_MS)
    )
    expected = {
        r.user_bucket: (r.n_expired_users, r.n_events, r.value_micros)
        for r in fired.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_expired_users"),
            F.sum("n").alias("n_events"),
            F.sum("micros").alias("value_micros"),
        )
        .collect()
    }
    assert got == expected
    n_fired = sum(v[0] for v in got.values())
    n_users = per_user.count()
    assert 0 < n_fired < n_users, "need both expired and live users"


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf",
)
def test_tws_composite_list_and_map_surfaces_match_batch(spark):
    """Per-surface assertions for the CONSOLIDATED TWS stream (r13 verdict
    #1): the ListState slice (per-user 3 most recent event ids, merged
    across the even/odd micro-batch boundary) and the MapState slice
    (per-user distinct event types + exact-micros totals) must each equal
    their closed-form batch equivalents. The ValueState and timer slices
    are pinned by test_tws_session_timeout_stream_equals_batch and the
    user_running_totals_tws tests; TTL and initial-state have their own
    standalone tests."""
    from datafusion_impl_spark.streaming import (
        stream_tws_event_type_profile,
        stream_tws_recent_events,
    )

    ev = load_table(spark, SF_DIR, "events")

    got_recent = {
        r.user_bucket: (r.n_users, r.n_recent, r.recent_sum)
        for r in stream_tws_recent_events(spark, SF_DIR).collect()
    }
    from pyspark.sql import Window

    top3 = (
        ev.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("rk") <= 3)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_recent"),
            F.sum("event_id").alias("recent_sum"),
        )
    )
    exp_recent = {
        r.user_bucket: (r.n_users, r.n_recent, r.recent_sum)
        for r in top3.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_recent").cast("long").alias("n_recent"),
            F.sum("recent_sum").cast("long").alias("recent_sum"),
        )
        .collect()
    }
    assert got_recent == exp_recent

    got_types = {
        r.user_bucket: (r.n_users, r.n_types, r.n_events, r.value_micros)
        for r in stream_tws_event_type_profile(spark, SF_DIR).collect()
    }
    prof = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        ).alias("micros"),
    )
    exp_types = {
        r.user_bucket: (r.n_users, r.n_types, r.n_events, r.value_micros)
        for r in prof.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_types").alias("n_types"),
            F.sum("n").alias("n_events"),
            F.sum("micros").alias("value_micros"),
        )
        .collect()
    }
    assert got_types == exp_types


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf",
)
def test_tws_state_ttl_expires_between_batches(spark, dup_events_dir):
    """State TTL (r7): a ValueState declared with ttlDurationMs=1 must be
    GONE by the next micro-batch (wall-clock between availableNow triggers
    is orders of magnitude above 1 ms), while an identical no-TTL state
    survives — the two counters diverge exactly at the batch boundary."""
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    class TtlProbe(StatefulProcessor):
        def init(self, handle):
            self._ttl = handle.getValueState("with_ttl", "n BIGINT",
                                             ttlDurationMs=1)
            self._forever = handle.getValueState("no_ttl", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            for _ in rows:
                pass  # consume; the probe counts BATCHES, not rows
            t = (self._ttl.get()[0] if self._ttl.exists() else 0) + 1
            f = (self._forever.get()[0] if self._forever.exists() else 0) + 1
            self._ttl.update((t,))
            self._forever.update((f,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "ttl_n": [t], "forever_n": [f]}
            )

        def close(self):
            pass

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ttl_n", LongType()),
            StructField("forever_n", LongType()),
        ]
    )
    src = spark.readStream.schema(stx.EVENTS_RAW_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(dup_events_dir)
    # TTL is defined relative to processing time, so the probe must run in
    # ProcessingTime mode (NoTime refuses TTL configs outright)
    st = src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TtlProbe(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    with _rocksdb_state(spark):
        q = (
            st.writeStream.format("memory")
            .queryName("tws_ttl_probe")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    rows = spark.sql(
        "SELECT MAX(ttl_n) AS t, MAX(forever_n) AS f FROM tws_ttl_probe"
    ).first()
    assert rows.f == 2, "no-TTL state must survive into the second batch"
    assert rows.t == 1, "1ms-TTL state must have expired between batches"


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf",
)
def test_tws_warm_start_carries_batch_history(spark):
    """initialState cutover semantics: the streamed totals must equal the
    FULL per-user aggregate (even history seeded via handleInitialState +
    odd live events), strictly exceeding the odd-only totals — i.e. no
    history was lost at cutover."""
    from datafusion_impl_spark.streaming import stream_tws_warm_start

    got = {
        r.user_bucket: (r.n_users, r.n_events, r.value_micros)
        for r in stream_tws_warm_start(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    micros = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    live_users = ev.filter(F.col("event_id") % 2 == 1).select("user_id").distinct()
    expected_df = (
        ev.join(live_users, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(micros).alias("s"))
        .groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n").alias("n_events"),
            F.sum("s").alias("value_micros"),
        )
    )
    expected = {
        r.user_bucket: (r.n_users, r.n_events, r.value_micros)
        for r in expected_df.collect()
    }
    assert got == expected
    odd_only = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    odd_counts = {r.user_bucket: r.n for r in odd_only.collect()}
    for b, (_, n_events, _) in got.items():
        assert n_events > odd_counts[b], "history must be included"


# --- streaming ANN serving vs batch twin ------------------------------------

def test_stream_ann_serving_equals_batch_twin(spark):
    """The streaming serve (file stream, 2 micro-batches, collect_list
    state) must produce EXACTLY the batch answer: same index, same
    stateless scoring core, batch ranking via a window. This is the
    stream-vs-batch equivalence statement for the serving path."""
    from pyspark.sql import Window

    from datafusion_impl_spark.operators.similarity import (
        _QUERY_MOD,
        _TOPK,
        _vectors,
    )
    from datafusion_impl_spark.streaming import (
        _ann_serve_index,
        _ann_serve_topk_scores,
        stream_ann_adc_topk,
    )

    got = [
        (r.q_id, r.rk, r.cand_id, r.adc)
        for r in stream_ann_adc_topk(spark, SF_DIR).collect()
    ]

    cell_codes, coarse_rows, cent_rows = _ann_serve_index(spark, SF_DIR)
    q = (
        _vectors(spark, SF_DIR)
        .filter(F.col("vec_id") % _QUERY_MOD == 0)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    )
    scores = _ann_serve_topk_scores(q, cell_codes, coarse_rows, cent_rows)
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc").asc(), F.col("cand_id").asc()
    )
    expected = [
        (r.q_id, r.rk, r.cand_id, r.adc)
        for r in scores.withColumn(
            "rk", F.row_number().over(w).cast("int")
        )
        .filter(F.col("rk") <= _TOPK)
        .select("q_id", "rk", "cand_id", "adc")
        .orderBy("q_id", "rk")
        .collect()
    ]
    assert got == expected
    assert len(got) > 0


def test_stream_contribution_capping_matches_batch_replay(spark):
    """The streaming gate's admitted census must equal a batch replay of
    the same two-batch budget rule (even-batch first-K by (ts, id), then
    the leftover budget from the odd batch), and no user may exceed the
    cap in the admitted set."""
    from datafusion_impl_spark.streaming import (
        _STREAM_CAP,
        stream_contribution_capping,
    )

    got = {
        r.event_type: (r.n_arriving, r.n_admitted, r.n_rejected)
        for r in stream_contribution_capping(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    from pyspark.sql import Window

    w = Window.partitionBy(
        "user_id", (F.col("event_id") % 2).alias("b")
    ).orderBy(F.unix_micros("ts"), "event_id")
    ranked = ev.withColumn("b", F.col("event_id") % 2).withColumn(
        "rk", F.row_number().over(w)
    )
    n_even = ranked.filter(F.col("b") == 0).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_even")
    )
    adm = (
        ranked.join(n_even, "user_id", "left")
        .withColumn("ne", F.coalesce("n_even", F.lit(0)))
        .filter(
            ((F.col("b") == 0) & (F.col("rk") <= _STREAM_CAP))
            | (
                (F.col("b") == 1)
                & (
                    F.col("rk")
                    <= _STREAM_CAP - F.least(F.col("ne"), F.lit(_STREAM_CAP))
                )
            )
        )
    )
    expected_adm = {
        r.event_type: r.n
        for r in adm.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    per_user_max = adm.groupBy("user_id").count().agg(F.max("count")).first()[0]
    assert per_user_max <= _STREAM_CAP
    for et, (arr, admitted, rejected) in got.items():
        assert admitted == expected_adm.get(et, 0), et
        assert arr == admitted + rejected


def test_stream_quality_scoring_matches_batch_equivalent(spark):
    """The streaming scorer (weights trained on even docs, odd docs scored
    as an availableNow file stream) must produce the SAME per-source
    census as a pure batch evaluation of the identical split — the
    stream-vs-batch equivalence the stateless serving shape guarantees."""
    from datafusion_impl_spark.operators.text import (
        _logreg_fit,
        _logreg_z,
        quality_feature_frame,
    )
    from datafusion_impl_spark.sources.registry import load_table
    from datafusion_impl_spark.streaming import stream_quality_scoring

    got = {
        r.source: (r.n_docs, r.n_pred_keep, r.n_label_keep, r.n_agree, r.avg_p)
        for r in stream_quality_scoring(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    w = _logreg_fit(
        quality_feature_frame(docs.filter(F.col("doc_id") % 2 == 0), [])
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_logreg_z(w)))
    batch = (
        quality_feature_frame(docs.filter(F.col("doc_id") % 2 == 1), ["source"])
        .select("source", "y", p.alias("p"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("p") >= 0.5).cast("long")).alias("n_pred_keep"),
            F.sum((F.col("y") == 1.0).cast("long")).alias("n_label_keep"),
            F.sum(
                ((F.col("p") >= 0.5) == (F.col("y") == 1.0)).cast("long")
            ).alias("n_agree"),
            F.round(F.avg("p"), 4).alias("avg_p"),
        )
    )
    expected = {
        r.source: (r.n_docs, r.n_pred_keep, r.n_label_keep, r.n_agree, r.avg_p)
        for r in batch.collect()
    }
    assert got == expected


def test_stream_hll_registers_merge_across_batches(spark):
    """The streaming HLL must equal the batch sketch exactly: registers
    built incrementally across two micro-batches and reconciled from
    update-mode re-emits are the same sparse register table the batch
    query computes in one pass, so the estimates match row-for-row."""
    from datafusion_impl_spark.plans.analytics import (
        sketch_hll_distinct_users,
    )
    from datafusion_impl_spark.streaming import stream_hll_distinct_users

    got = {
        r.event_type: (r.n_exact, r.hll_estimate, r.rel_error, r.buckets_used)
        for r in stream_hll_distinct_users(spark, SF_DIR).collect()
    }
    expected = {
        r.event_type: (r.n_exact, r.hll_estimate, r.rel_error, r.buckets_used)
        for r in sketch_hll_distinct_users(spark, SF_DIR).collect()
    }
    assert got == expected


def test_stream_quantile_histogram_equals_batch_sketch(spark):
    """The streaming histogram must equal the batch sketch exactly: bin
    counts accumulated across two micro-batches (with edges pinned from
    the static table) and reconciled from update-mode re-emits feed the
    same report tail, so every estimate matches row-for-row."""
    from datafusion_impl_spark.plans.analytics import (
        sketch_quantile_histogram,
    )
    from datafusion_impl_spark.streaming import stream_quantile_histogram

    got = [tuple(r) for r in
           stream_quantile_histogram(spark, SF_DIR).collect()]
    expected = [tuple(r) for r in
                sketch_quantile_histogram(spark, SF_DIR).collect()]
    assert got == expected


def test_stream_bloom_filter_equals_batch_filter(spark):
    """The streamed Bloom registers (two micro-batches, OR-monotone
    update-mode re-emits reconciled by max, no dedup needed because
    insertion is idempotent) must produce the exact per-language census
    the batch-built filter produces."""
    from datafusion_impl_spark.operators.dedup import (
        sketch_bloom_ingest_filter,
    )
    from datafusion_impl_spark.streaming import stream_bloom_ingest_filter

    got = [tuple(r) for r in
           stream_bloom_ingest_filter(spark, SF_DIR).collect()]
    expected = [tuple(r) for r in
                sketch_bloom_ingest_filter(spark, SF_DIR).collect()]
    assert got == expected


def test_stream_cms_heavy_hitters_equals_batch_sketch(spark):
    """The streamed CMS counters (two micro-batches of exploded tokens,
    additive-monotone update-mode re-emits reconciled by max) must
    reproduce the batch sketch's heavy-hitter audit row-for-row —
    including the collision overestimates, since the counter grids are
    identical by construction."""
    from datafusion_impl_spark.operators.text import heavy_hitters_cms
    from datafusion_impl_spark.streaming import stream_cms_heavy_hitters

    got = [tuple(r) for r in
           stream_cms_heavy_hitters(spark, SF_DIR).collect()]
    expected = [tuple(r) for r in heavy_hitters_cms(spark, SF_DIR).collect()]
    assert got == expected


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf",
)
def test_tws_same_batch_input_beats_expirable_timer(spark, tmp_path):
    """Pin the micro-batch ordering assumption the consolidated TWS stream
    depends on (r14 advice): within a micro-batch, INPUT rows must be
    processed before expired timers, and an input-phase deleteTimer must
    win over a timer that was already expirable at batch start. If Spark
    ever fired the timer first, handleExpiredTimer would clear ``sess``,
    the same-batch input would restart ``n_events`` at 1, and the
    ``max(struct(n_events, ...))`` final-row selection would silently
    return a stale mid-stream row.

    Construction (GAP = 2 h, watermark delay = 1 h, even/odd split by
    event_id, even file = batch 1 by mtime):

    - user 1 (the race): batch-1 events at t0 and t0+10 min (timer
      t0+2h10m), batch-2 event at t0+3h30m — ABOVE batch 2's watermark
      (t0+3h) while the old timer is BELOW it (expirable);
    - user 2: single batch-1 event at t0+4h — pushes batch 2's watermark
      to t0+3h so user 1's timer is genuinely expirable;
    - user 3 (control): batch-1 events only, timer t0+2h5m — proves
      timers DO fire in batch 2, so user 1's absence is meaningful.
    """
    import pyarrow as pa
    import pyarrow.parquet as papq

    from datafusion_impl_spark.streaming import (
        _TWS_GAP_MS,
        _TWS_WM_DELAY_MS,
        _tws_composite_view,
        _tws_running_final,
    )

    t0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z in millis
    m = 60_000
    # (event_id, user_id, ts_ms, value): even ids -> batch 1, odd -> batch 2
    rows = [
        (2, 1, t0, 1.25),
        (4, 1, t0 + 10 * m, 2.5),
        (5, 1, t0 + 210 * m, 4.75),       # batch 2, above the watermark
        (6, 2, t0 + 240 * m, 8.0),        # watermark pusher
        (8, 3, t0, 16.5),
        (10, 3, t0 + 5 * m, 32.25),
    ]
    # the race is real by construction: user 1's batch-1 timer is below
    # batch 2's watermark, its batch-2 event above it
    wm_batch2 = (t0 + 240 * m) - _TWS_WM_DELAY_MS
    assert (t0 + 10 * m) + _TWS_GAP_MS < wm_batch2 < (t0 + 210 * m)

    sf_dir = str(tmp_path / "race_sf")
    (tmp_path / "race_sf").mkdir()
    papq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "ts": pa.array(
                    [r[2] * 1000 for r in rows], pa.timestamp("us")
                ),
            }
        ),
        f"{sf_dir}/events.parquet",
    )

    out = spark.table(_tws_composite_view(spark, sf_dir))
    fired = {
        r.user_id: (r.n_events, r.value_micros)
        for r in out.filter(F.col("fired") == 1).collect()
    }
    # control fires with its full batch-1 totals; the raced user must NOT
    # fire — its same-batch input deleted the expirable timer first
    assert fired == {3: (2, 16_500_000 + 32_250_000)}
    view = _tws_composite_view(spark, sf_dir)
    fin = {
        r.user_id: (r.fin.n_events, r.fin.value_micros)
        for r in _tws_running_final(spark, view).collect()
    }
    # the raced user's final running row is CUMULATIVE across both
    # batches — the input phase saw live (not timer-cleared) state
    assert fin[1] == (3, 1_250_000 + 2_500_000 + 4_750_000)
    assert fin[2] == (1, 8_000_000)
