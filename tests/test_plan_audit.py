"""Registry-wide plan audit: every registered query's plan is EXPLAINed and
checked against the scale invariants the per-operator tests enforce locally —
turning the 100 TB discipline into a single fence no new query can slip past.

Rules (on the optimized logical plan + physical plan string):

- no CartesianProduct anywhere (broadcast-nested-loop over a scalar/constant
  frame is fine and planned differently);
- no GLOBAL Sort except (a) the root presentation ``orderBy`` every query
  carries for oracle determinism, (b) a sort feeding a Limit (top-k →
  TakeOrdered), or (c) a sort whose input subtree is bounded (sits above an
  Aggregate / Limit / local relation — e.g. sorting per-group summaries);
- no Window with an EMPTY partitionSpec unless its input subtree is bounded
  the same way (e.g. ranking ~80 monthly aggregate rows is fine; a global
  row_number over a fact table is not);
- no loop-invariant higher-order function inside a lambda body: an
  ArrayTransform/ArrayFilter/... whose subtree references NONE of the
  enclosing lambda's variables is re-evaluated per element (Catalyst inlines
  the shared Column at every call site), turning an O(n) expression into
  O(n²) per row — the r9 `source_bigram_perplexity` defect
  (`element_at(transform(t, ...), i)` inside a position lambda). The fix
  pattern is to materialize the invariant array in its own projection;
- no Python evaluation node (``*Python*``/``*InPandas*``) in the physical
  plan, except for the queries in ``_ALLOWED_PYTHON`` whose contract is a
  Python kernel.

"Bounded" is structural, not statistical: an Aggregate's output cardinality
is its group count, which every query here keeps intentionally small
(dims/flags/months/buckets), and a Limit is bounded by construction.
"""

from __future__ import annotations

import __spark_entry__ as entry
from tests.conftest import SF_DIR


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def _cls(node) -> str:
    return node.getClass().getSimpleName()


#: Logical nodes that bound their output row count regardless of input.
_BOUNDING = {
    "Aggregate",
    "GlobalLimit",
    "LocalLimit",
    "LocalRelation",
    "OneRowRelation",
    "Range",
}


def _is_bounded(node) -> bool:
    """Path-aware boundedness: a subtree is bounded iff EVERY data-flow path
    from this node down reaches a bounding operator. An any-descendant check
    would wrongly exempt e.g. fact.join(dim.groupBy(...).agg(...)) — the
    aggregate bounds only the dimension side while the join output stays one
    row per fact row."""
    if _cls(node) in _BOUNDING:
        return True
    kids = _children(node)
    if not kids:
        return False  # leaf relation / file scan: unbounded
    # joins/unions are bounded only if ALL inputs are; unary nodes
    # (Project/Filter/Window/Sort/Generate/...) inherit the child's bound
    return all(_is_bounded(k) for k in kids)


#: expression classes that evaluate a lambda over every element of their
#: input collection — expensive when re-evaluated per element of an
#: ENCLOSING lambda.
_HOF = {
    "ArrayTransform",
    "ArrayFilter",
    "ArrayExists",
    "ArrayForAll",
    "ArrayAggregate",
    "ArraySort",
    "ZipWith",
    "MapFilter",
    "TransformKeys",
    "TransformValues",
    "MapZipWith",
}


def _expr_walk(e):
    yield e
    seq = e.children()
    for i in range(seq.size()):
        yield from _expr_walk(seq.apply(i))


def _lambda_arg_ids(lam) -> set[int]:
    seq = lam.arguments()
    return {seq.apply(i).exprId().id() for i in range(seq.size())}


def _free_lambda_var_ids(e) -> set[int]:
    """NamedLambdaVariable exprIds referenced in ``e``'s subtree but not
    bound by a LambdaFunction within that subtree."""
    bound: set[int] = set()
    used: set[int] = set()
    for n in _expr_walk(e):
        c = _cls(n)
        if c == "LambdaFunction":
            bound |= _lambda_arg_ids(n)
        elif c == "NamedLambdaVariable":
            used.add(n.exprId().id())
    return used - bound


def _audit_recompute(name: str, root) -> list[str]:
    """Flag loop-invariant higher-order functions inside lambda bodies: a
    HOF in a lambda whose subtree references none of the lambda's variables
    re-runs in full for EVERY element the enclosing lambda visits —
    O(n)→O(n²) per row. (An HOF that does use the variable is a genuinely
    element-dependent computation and is not flagged.)"""
    problems: list[str] = []
    for node in _walk(root):
        exprs = node.expressions()
        for i in range(exprs.size()):
            top = exprs.apply(i)
            # cheap prefilter: one py4j string fetch vs thousands of walks
            if "lambdafunction" not in top.toString():
                continue
            for e in _expr_walk(top):
                if _cls(e) != "LambdaFunction":
                    continue
                bound = _lambda_arg_ids(e)
                for h in _expr_walk(e.function()):
                    if _cls(h) in _HOF and not (
                        _free_lambda_var_ids(h) & bound
                    ):
                        problems.append(
                            f"{name}: loop-invariant {_cls(h)} re-evaluated"
                            f" inside lambda — materialize it in its own"
                            f" projection first"
                        )
    return sorted(set(problems))


def _strip_presentation_root(node):
    """Drop the root Project/Sort/Limit chain — the final orderBy (and any
    top-k limit around it) exists for oracle determinism, not as part of the
    computation under audit."""
    while True:
        c = _cls(node)
        if c in ("Project", "Sort", "GlobalLimit", "LocalLimit", "Deduplicate"):
            kids = _children(node)
            if len(kids) == 1:
                node = kids[0]
                continue
        return node


#: Queries whose physical plan may hold Python evaluation nodes: the parity
#: UDF fixture and the operators for which Python IS the contract.
_ALLOWED_PYTHON = {
    "regexp_safe_edge_cases",
    "multimodal_media_features",
    "multimodal_frame_samples",
    "multimodal_arrow_features",  # mapInArrow IS the operator's contract
    "grouped_zscore_doclen",
    "udaf_geometric_mean_events",
    "props_kv_udtf_stats",
    "udtf_polymorphic_tokens",    # polymorphic Python UDTF IS the API under test
    "python_datasource_scan",     # Python Data Source API demo source
    "python_datasource_write_roundtrip",  # custom Python sink under test
    "cogrouped_order_gap_stats",  # cogroup().applyInPandas IS the API under test
    "multimodal_bmp_decode_stats",  # build + decode (operators._map_rows) IS the operator
    "multimodal_wav_decode_stats",  # same contract, audio (r7)
    "multimodal_y4m_decode_stats",  # same contract, video (r7)
    "multimodal_png_decode_stats",  # same contract, compressed image (r10)
    "multimodal_gif_decode_stats",  # same contract, LZW image (r11)
    "multimodal_jpeg_decode_stats",  # same contract, DCT+Huffman (r13)
    "multimodal_jpeg_color_stats",   # same contract, 4:2:0 color (r13)
    "multimodal_y4m_scene_cuts",    # same contract, temporal video (r11)
    "multimodal_wav_spectrum_stats",  # same contract, spectral audio (r11)
    "audio_mel_filterbank_stats",   # same contract, mel features (r13)
    "multimodal_resize_bilinear_stats",  # same contract, resampling (r13)
    "audio_resample_linear",        # same contract, rate conversion (r13)
    "multimodal_hist_equalization_stats",  # same contract, contrast (r13)
    "multimodal_tar_webdataset_scan",  # tar (dis)assembly IS the operator
    "source_gzip_jsonl_scan",       # gunzip kernel IS the operator (the
    # JSON parse itself is JVM-side from_json)
    "source_zstd_seekable_scan",    # seek-table zstd codec IS the operator (r14)
    "source_warc_scan",             # WARC double-framing codec IS the operator (r14)
    "audio_peak_normalize_stats",   # decode+integer-rescale kernel (r15)
    "audio_constellation_near_dup",  # decode+STFT-peak kernel (r16); the
    # landmark pairing, hash join, and offset voting are all JVM-side
    "video_fingerprint_near_dup",   # decode+block-gradient kernel (r16);
    # fingerprint join and temporal voting are JVM-side
    "audio_vad_segments",           # decode+frame-energy kernel (r14); the
    # island merge itself is JVM window functions
    "multimodal_png_encode_roundtrip",  # own-DEFLATE writer IS the operator (r14)
    "multimodal_jpeg_quality_estimate",  # DQT parse + QF inverse kernel (r14)
    "blocklist_aho_corasick",       # the automaton pass IS the operator (r14);
    # census aggregation stays JVM-side over per-batch partials
    "parquet_footer_census",        # footers-only pyarrow metadata read IS
    # the operator (r14); no data pages touched anywhere
    "multimodal_exif_metadata_census",   # APP1/TIFF parse kernel (r15)
    "multimodal_exif_orientation_normalize",  # decode+remap kernel (r15)
    "multimodal_jpeg_dc_thumbnail",  # DC-only entropy walk (r15)
    "warc_robots_compliance_gate",  # WARC scan + robots parse kernel
    # (r15); the verdict itself is a relational broadcast join
    "stream_robots_compliance_gate",  # same scan feeds the stream twin
    "source_pdf_scan",              # PDF xref/stream codec IS the operator
    "source_wet_conversion_scan",   # WET write+rescan codec (r15);
    # the politeness scheduler needs no exemption — its records leaf
    # is materialized, so the returned plan is pure relational
    "dedup_cdc_chunking",           # gear-hash boundary kernel (r15); the
    # slicing + hashing + census stay JVM-side
    "postings_varint_roundtrip",    # LEB128 codec IS the operator (r15);
    # postings build + census stay JVM-side
    "avro_lineitem_roundtrip",      # OCF (de)serialization IS the operator
    "source_protobuf_scan",         # wire-format codec IS the operator
    "text_nfc_normalization_audit",  # unicodedata kernel IS the operator
    # trained classifiers: per-step gradients collect inside the query
    # function (bounded 4/12-double rows), so the RETURNED plan is pure
    # relational — they need no exemption. stream_* queries run their
    # stream inside the function and return a batch tail, same story.
}


def _audit_python(name: str, physical: str) -> list[str]:
    """No Python evaluation nodes in a relational plan."""
    if name in _ALLOWED_PYTHON:
        return []
    problems = []
    if "Python" in physical:
        problems.append(f"{name} has Python in the hot path")
    if "InPandas" in physical:
        problems.append(f"{name} has a Pandas node in the hot path")
    return problems


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _audit_one(name: str, df) -> list[str]:
    problems: list[str] = []
    qe = df._jdf.queryExecution()
    physical = _physical(df)
    if "CartesianProduct" in physical:
        problems.append(f"{name}: CartesianProduct in physical plan")

    problems.extend(_audit_recompute(name, qe.optimizedPlan()))

    root = _strip_presentation_root(qe.optimizedPlan())
    # parent map so a global Sort directly under a Limit (top-k) is exempt
    limit_children = set()
    for node in _walk(root):
        if _cls(node) in ("GlobalLimit", "LocalLimit"):
            # look through interposed Projects: Limit → Project* → Sort is
            # Spark's TakeOrderedAndProject shape (top-k, never a full sort)
            for c in _children(node):
                while _cls(c) == "Project" and len(_children(c)) == 1:
                    limit_children.add(c.hashCode())
                    c = _children(c)[0]
                limit_children.add(c.hashCode())
    for node in _walk(root):
        c = _cls(node)
        if c == "Sort":
            is_global = bool(getattr(node, "global")())
            if (
                is_global
                and node.hashCode() not in limit_children
                and not _is_bounded(node)
            ):
                problems.append(f"{name}: unbounded global Sort ({node.simpleStringWithNodeId()})")
        elif c == "Window":
            if node.partitionSpec().size() == 0 and not _is_bounded(node):
                problems.append(f"{name}: unpartitioned Window over unbounded input")
    return problems


def test_audit_catches_known_bad_plans(spark):
    """Negative control: the auditor must flag the anti-patterns it exists
    for (otherwise a green audit proves nothing)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_impl_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    # global row_number over an unbounded fact table
    bad_window = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert any("Window" in p for p in _audit_one("bad_window", bad_window))
    # ...including when an aggregate exists on the OTHER side of a join: the
    # join output is still one row per fact row, so the window stays global
    # over unbounded input (path-aware boundedness, not any-descendant)
    dim = docs.groupBy("source").count().withColumnRenamed("source", "src")
    bad_joined = docs.join(dim, docs.source == dim.src).withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert any("Window" in p for p in _audit_one("bad_joined_window", bad_joined))
    # loop-invariant HOF recompute — the r9 source_bigram_perplexity defect:
    # a shared transform() Column referenced via element_at inside a
    # position lambda is inlined (hence re-evaluated) at every position
    toks = docs.select(F.split("text", " ").alias("t"))
    mapped = F.transform(
        "t", lambda x: F.when(x == "a", x).otherwise(F.lit("<oov>"))
    )
    bad_recompute = toks.select(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.element_at(mapped, i).alias("a"),
                F.element_at(mapped, i + 1).alias("b"),
            ),
        ).alias("bg")
    )
    assert any(
        "loop-invariant" in p for p in _audit_one("bad_recompute", bad_recompute)
    )
    # ...while the fixed shape (materialize once, zip shifted slices) and an
    # element-DEPENDENT inner HOF both stay clean
    ok_zip = toks.select(mapped.alias("m")).select(
        F.arrays_zip(
            F.slice("m", 1, F.size("m") - 1).alias("a"),
            F.slice("m", 2, F.size("m") - 1).alias("b"),
        ).alias("bg")
    )
    assert not _audit_one("ok_zip", ok_zip)
    ok_dependent = toks.select(
        F.transform(
            "t", lambda x: F.size(F.filter("t", lambda y: y == x))
        ).alias("rank_of")
    )
    assert not [
        p for p in _audit_one("ok_dependent", ok_dependent)
        if "loop-invariant" in p
    ]
    # (no negative control for the interior-global-Sort rule: Catalyst's
    # EliminateSorts removes every simple repro — a sort surviving below a
    # join/union is exactly the optimizer-miss the branch fences against)
    # true cartesian product (hinted: at sf0.01 Spark would otherwise pick a
    # broadcast nested-loop, which is exactly the sanctioned alternative)
    cart = docs.hint("shuffle_replicate_nl").crossJoin(
        docs.select(F.col("doc_id").alias("d2"))
    )
    assert any("CartesianProduct" in p for p in _audit_one("bad_cross", cart))
    # a Python UDF in a relational plan
    bad_python = docs.select(F.udf(lambda t: t, "string")("text"))
    assert _audit_python("bad_python", _physical(bad_python))
    # and the sanctioned shapes stay clean
    ok_root_sort = docs.orderBy("doc_id")
    assert not _audit_one("ok_root_sort", ok_root_sort)
    ok_grouped = (
        docs.groupBy("source")
        .count()
        .withColumn("rn", F.row_number().over(Window.orderBy("source")))
    )
    assert not _audit_one("ok_grouped", ok_grouped)


def audit_registry(spark) -> dict[str, list]:
    """Builds every registered query once and audits that one build.

    Returns the plan-rule problems under ``"plan"``, the Python-node
    problems under ``"python"`` and each ``(query, file)`` pair of the
    built plan's ``inputFiles()`` under ``"inputs"``; only these outlive
    the loop, never the built frames.
    """
    found: dict[str, list] = {"plan": [], "python": [], "inputs": []}
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, SF_DIR)
        except Exception as exc:  # building the plan must itself succeed
            found["plan"].append(f"{name}: build failed: {exc}")
            continue
        found["plan"].extend(_audit_one(name, df))
        found["python"].extend(_audit_python(name, _physical(df)))
        found["inputs"].extend((name, f) for f in df.inputFiles())
    return found


def test_all_registered_queries_pass_plan_audit(registry_audit):
    failures = registry_audit["plan"]
    assert not failures, "\n".join(failures)
