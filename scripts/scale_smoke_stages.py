#!/usr/bin/env python3
"""K=100 per-STAGE scale smoke (r15 verdict #1): replicate the base sf K×
(key-shifted, via scripts/scale_smoke.build) and measure the two flagship
chains STAGE BY STAGE at both scales — wall time, output rows, and SHUFFLE
BYTES actually written (summed over every ShuffleExchange in the executed
AQE plan) — so "would it survive a 100× scale-up" is answered with
numbers, not plan prose.

Chains:
- MinHash dedup:   pairs (shingle→sign→band→verify)   dedup_documents_minhash
                 → connected components                dedup_cluster_components
                 → survivor selection                  dedup_documents_survivors
- IVF-PQ ANN:      build (train+encode) + serve top-k  ann_ivf_pq_topk

The pair table is the yardstick: replicated docs are exact cross-copy
duplicates, so every K-copy group emits K·(K-1)/2 pairs — the HONEST
super-linear direction. A stage is flagged only if its TIME ratio exceeds
the PAIR-TABLE ratio (cost growing faster than its own input).

Base defaults to sf0.01 (not sf0.1): at K=100 the doc_id stride must stay
below the planted-dup offset (100 000), which sf0.01's ~600-doc id space
satisfies with room (top ≈ 60 000) while sf0.1 would collide at K ≈ 17.

Usage: python scripts/scale_smoke_stages.py [K] [BASE_SF_DIR]
Writes bench_runs/smoke_K{K}.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_STAGES = [
    # (stage label, query name, is_pair_table)
    ("minhash_pairs", "dedup_documents_minhash", True),
    ("components", "dedup_cluster_components", False),
    ("survivors", "dedup_documents_survivors", False),
    ("ivf_pq_build_serve", "ann_ivf_pq_topk", False),
]


def _app_shuffle_totals(spark) -> dict[str, int]:
    """App-cumulative shuffle write bytes/records from the Spark UI REST
    API (the script enables the UI for exactly this): unlike the
    per-plan metric walk, this also counts stages run during ITERATIVE
    query builds (localCheckpoint rounds), which never appear in the
    returned DataFrame's plan. Callers take before/after deltas."""
    import json as _json
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        apps = _json.load(
            urllib.request.urlopen(f"{base}/api/v1/applications", timeout=10)
        )
        app_id = apps[0]["id"]
        stages = _json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=10,
            )
        )
        return {
            "bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "records": sum(s.get("shuffleWriteRecords", 0) for s in stages),
        }
    except Exception:
        return {"bytes": 0, "records": 0}


def _plan_shuffle_totals(jdf) -> dict[str, int]:
    """Sum shuffle write metrics over every node of the executed
    (post-AQE) physical plan. Call AFTER an action ran through this exact
    DataFrame's QueryExecution."""
    total = {"shuffle_bytes_written": 0, "shuffle_records_written": 0}

    def walk(n):
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k = kv._1()
            if k == "shuffleBytesWritten":
                total["shuffle_bytes_written"] += int(kv._2().value())
            elif k == "shuffleRecordsWritten":
                total["shuffle_records_written"] += int(kv._2().value())
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(n.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(n.plan())
            return
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(jdf.queryExecution().executedPlan())
    return total


def _run_stage(spark, fn, sf_dir: str) -> dict:
    """Warm-up + best-of-2 wall time (the K10 smoke's methodology), then
    one metered run: rows out + shuffle bytes from the executed plan."""
    import gc

    gc.collect()
    spark._jvm.System.gc()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    before = _app_shuffle_totals(spark)
    df = fn(spark, sf_dir)
    # run THROUGH this DataFrame's own QueryExecution so its plan carries
    # the metrics (a .count() or write would build a different QE)
    rows = int(df._jdf.queryExecution().toRdd().count())
    met = _plan_shuffle_totals(df._jdf)
    after = _app_shuffle_totals(spark)
    return {
        "sec": round(best, 3),
        "rows": rows,
        # plan-walk totals: the returned plan only (misses checkpointed
        # iterative rounds); app-delta totals: EVERYTHING this metered
        # run shuffled, including those rounds
        "shuffle_bytes_written": met["shuffle_bytes_written"],
        "shuffle_records_written": met["shuffle_records_written"],
        "shuffle_bytes_app_delta": after["bytes"] - before["bytes"],
        "shuffle_records_app_delta": after["records"] - before["records"],
    }


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from scripts import scale_smoke as ssm

    ssm.BASE = base  # build() replicates from this dir
    from pyspark.sql import SparkSession

    from datafusion_impl_spark.session import _DRIVER_MEM, _LOCAL_CORES, configure

    # get_spark's conf, except: UI ON (the REST API is where app-level
    # shuffle deltas come from) with retention raised far above any run's
    # stage count (eviction would corrupt before/after deltas).
    spark = configure(
        SparkSession.builder.appName("datafusion_impl_spark-scale-smoke")
        .master(f"local[{_LOCAL_CORES}]")
        .config("spark.driver.memory", _DRIVER_MEM)
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
    ).config("spark.ui.retainedStages", "100000") \
     .config("spark.ui.retainedJobs", "100000").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    big = ssm.build(spark, k)
    report: dict = {"k": k, "base_sf_dir": base, "stages": {}}
    for label, qname, is_pair in _STAGES:
        b = _run_stage(spark, queries[qname], base)
        s = _run_stage(spark, queries[qname], big)
        report["stages"][label] = {
            "query": qname,
            "base": b,
            "scaled": s,
            "time_ratio": round(s["sec"] / b["sec"], 2) if b["sec"] else None,
            "rows_ratio": round(s["rows"] / b["rows"], 2) if b["rows"] else None,
            # ratio from the app-level delta (covers iterative rounds the
            # returned plan hides); falls back to the plan-walk total
            "shuffle_bytes_ratio": (
                round(
                    s["shuffle_bytes_app_delta"]
                    / b["shuffle_bytes_app_delta"], 2
                )
                if b["shuffle_bytes_app_delta"] > 0
                else (
                    round(
                        s["shuffle_bytes_written"]
                        / b["shuffle_bytes_written"], 2
                    )
                    if b["shuffle_bytes_written"]
                    else None
                )
            ),
        }
        print(label, json.dumps(report["stages"][label]), flush=True)
    pairs = report["stages"]["minhash_pairs"]
    pair_ratio = pairs["rows_ratio"]
    report["pair_table_ratio"] = pair_ratio
    report["stages_growing_faster_than_pair_table"] = sorted(
        label
        for label, st in report["stages"].items()
        if pair_ratio and st["time_ratio"] and st["time_ratio"] > pair_ratio
    )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_runs",
        f"smoke_K{k}.json",
    )
    with open(out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"written": out,
                      "flagged": report[
                          "stages_growing_faster_than_pair_table"]}))


if __name__ == "__main__":
    main()
