"""The ``--trace 1`` run: per-layer metrics of one workload.

The run is split in two halves of ``seconds / 2``: an untraced closed loop
(the same ops the end-to-end run times) and a traced one, in which every op
is split into build (calling the query), plan (forcing the executed plan and
reading Catalyst's phase tracker) and exec (running the plan through the
DataFrame's own QueryExecution, whose post-AQE plan then carries the SQL
metrics). The tracing overhead is the traced pass minus the untraced pass.
Layer metrics are averages per op unless the name says otherwise; a layer
the workload never calls reports 0 and is listed under ``layers_not_called``.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

import tracing
from metrics import percentile

#: Layers the benchmark times, named after the package's modules.
LAYERS = ("session", "engine", "sources", "functions", "plans", "operators", "streaming")
#: The package's ``scale`` module is called only by two analytics queries
#: that no workload runs.
NOT_MEASURED = {"scale": "called only by two analytics queries, which no workload runs"}

_KERNEL_BATCH = 10_000


def install() -> tracing.Tracer:
    """Import every module of the package, then wrap its entry points, so
    the set-up that follows is traced too."""
    import __spark_entry__  # noqa: F401  (loads every query module)

    tracer = tracing.Tracer()
    tracer.install()
    return tracer


def worker_start_s(spark) -> float:
    """Time of the first Python UDF call in a fresh session, which starts
    the Python worker the later Arrow UDFs reuse."""
    from pyspark.sql.functions import pandas_udf

    probe = pandas_udf(lambda s: s, "long")
    t = time.perf_counter()
    spark.range(1).select(probe("id")).collect()
    return time.perf_counter() - t


def kernel_bench(rows: list[tuple]) -> dict:
    """``regexp_extract_kernel`` over the input in Arrow-sized pandas
    batches, with no Spark involved, from an empty compile cache."""
    from datafusion_impl_spark.functions import regexp as R

    df = pd.DataFrame(rows, columns=["text", "pattern", "idx", "expected"])
    R._compile.cache_clear()
    t = time.perf_counter()
    for lo in range(0, len(df), _KERNEL_BATCH):
        b = df.iloc[lo : lo + _KERNEL_BATCH]
        R.regexp_extract_kernel(b["text"], b["pattern"], b["idx"])
    elapsed = time.perf_counter() - t
    info = R._compile.cache_info()
    return {
        "rows_per_s": len(df) / elapsed,
        "hit_ratio": info.hits / max(1, info.hits + info.misses),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def run(wl, ctx, seed: int, seconds: float, tracer: tracing.Tracer, setup_starts: list[dict]) -> dict:
    from workloads import closed_loop

    spark = ctx.spark
    sc = spark.sparkContext
    setup_spans = list(tracer.spans)
    tracer.clear()

    half = seconds / 2
    plain = closed_loop(wl.mix, wl.clients, seed, half, wl.op)

    records: list[dict] = []
    listener = tracing.StreamCounter()
    spark.streams.addListener(listener)
    try:
        with tracing.BusyPoller(sc, sc.defaultParallelism) as busy:
            traced = closed_loop(
                wl.mix, wl.clients, seed, half,
                lambda name, c: records.append(wl.traced_op(name, c, tracer)),
            )
        time.sleep(0.5)  # listener events arrive asynchronously
    finally:
        spark.streams.removeListener(listener)
    spans = tracer.spans
    n_ops = max(1, len(records))

    def spans_of(layer: str, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in setup_spans if s["layer"] == layer and s["name"] == name]

    ctx_init = [
        s["end"] - s["start"] - sum(c["end"] - c["start"] for c in setup_spans if c["parent"] == s["id"])
        for s in setup_spans
        if s["layer"] == "engine" and s["name"] == "context_init"
    ]
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (statistics.median(spans_of("session", "get_spark")), "s"),
        "session.python_worker_start_s": (statistics.median(r["worker_start_s"] for r in setup_starts), "s"),
        "engine.context_init_s": (statistics.median(ctx_init), "s"),
        "session.core_busy_frac": (busy.busy_frac(), "ratio"),
        "session.pending_tasks_mean": (busy.pending_mean(), "count"),
    }

    calls, load_s = tracing.span_totals(spans, "sources", "load_table")
    _, csv_s = tracing.span_totals(spans, "sources", "read_csv")
    query = [r for r in records if r["layer"] in ("plans", "operators", "streaming")]
    rel = [r for r in records if r["layer"] == "plans"]
    ops_ = [r for r in records if r["layer"] in ("operators", "streaming")]
    m.update({
        "sources.load_table_calls": (calls / n_ops, "count"),
        "sources.load_table_s": (load_s / n_ops, "s"),
        "sources.read_csv_s": (csv_s / n_ops, "s"),
        "sources.sink_bytes_written": (_mean(r.get("sink_bytes", 0) for r in records), "B"),
        "sources.rows_scanned_per_row_out": (
            _ratio(sum(r.get("scan_rows", 0) for r in rel), sum(r["rows_out"] for r in rel)), "ratio"),
        "plans.build_s": (_mean(r["build_s"] for r in rel), "s"),
    })
    for phase in ("analysis", "optimization", "planning"):
        key = "plans.optimize_s" if phase == "optimization" else f"plans.{phase}_s"
        m[key] = (_mean(r["phases"].get(phase, 0.0) for r in query), "s")
    m.update({
        "plans.exec_s": (_mean(r["exec_s"] for r in query), "s"),
        "plans.jobs_per_op": (_mean(r["jobs"] for r in records), "count"),
        "plans.tasks_per_op": (_mean(r["tasks"] for r in records), "count"),
        "plans.failed_tasks": (sum(r["failed_tasks"] for r in records), "count"),
        "plans.shuffle_bytes_written": (_mean(r.get("shuffle_bytes", 0) for r in query), "B"),
        "plans.spill_bytes": (_mean(r.get("spill_bytes", 0) for r in query), "B"),
        "plans.exchanges": (_mean(r.get("exchanges", 0) for r in query), "count"),
    })

    if hasattr(wl, "rows"):
        k = kernel_bench(wl.rows)
        sent, received = wl.python_bytes()
    else:
        k, sent, received = {"rows_per_s": 0.0, "hit_ratio": 0.0}, 0, 0
    m.update({
        "functions.kernel_rows_per_s": (k["rows_per_s"], "1/s"),
        "functions.compile_cache_hit_ratio": (k["hit_ratio"], "ratio"),
        "functions.python_bytes_sent": (sent, "B"),
        "functions.python_bytes_returned": (received, "B"),
        "operators.build_s": (_mean(r["build_s"] for r in ops_), "s"),
        "operators.eager_jobs_per_op": (_mean(r["eager_jobs"] for r in ops_), "count"),
        "operators.exec_s": (_mean(r["exec_s"] for r in ops_), "s"),
        "operators.join_yield": (
            _ratio(sum(r["rows_out"] for r in ops_), sum(r.get("join_rows", 0) for r in ops_)), "ratio"),
        "streaming.micro_batches": (listener.batches / n_ops, "count"),
        "streaming.trigger_s": (listener.trigger_s / n_ops, "s"),
        "streaming.wal_commit_s": (listener.wal_s / n_ops, "s"),
    })

    self_s = tracing.self_times(spans)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0) / n_ops, "s")
    plain_pass = statistics.median(p["wall"] for p in plain["passes"])
    traced_pass = statistics.median(p["wall"] for p in traced["passes"])
    m["trace.overhead_s"] = (traced_pass - plain_pass, "s")

    called = {s["layer"] for s in setup_spans + spans} | {r["layer"] for r in records}
    if hasattr(wl, "rows"):
        called.add("functions")
    details = {
        "untraced_pass_s": plain_pass,
        "traced_pass_s": traced_pass,
        "traced_ops": len(records),
        "op_latency_p50_s": percentile([op["latency"] for op in traced["ops"]], 50),
        "layers_not_called": [layer for layer in LAYERS if layer not in called],
        "layers_not_measured": NOT_MEASURED,
        "setup_self_s": tracing.self_times(setup_spans),
    }
    return {
        "ops": plain["ops"] + traced["ops"],
        "metrics": m,
        "details": details,
        "spans": {"setup": setup_spans, "timed": spans},
    }
