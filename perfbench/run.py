"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_llm --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The run makes its inputs from the seed in
``perfbench/work/`` (removed at the end), starts the engine several times to
time set-up, checks the outputs against independent oracles, runs the
workload closed-loop for ``--seconds`` and prints one JSON object as the last
line of standard output. With ``--trace 0`` it holds the end-to-end metrics,
with ``--trace 1`` the per-layer ones. The line before it holds the details
(sample counts, the tail percentile chosen, failure counts, environment), and
the whole result, with the spans of a traced run, is written to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Engine starts per run; ``setup_s`` is their median. The first start
#: launches the JVM, the later ones start a new session in the same JVM.
SETUP_REPS = 3
#: Driver heap: the engine's default (48g) does not fit a 15 GiB box shared
#: with other jobs.
DRIVER_MEM = "4g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def set_environment(work: str) -> None:
    """Pin the engine to this box and keep every file Spark, the JVM and the
    Python workers write inside ``work``. Must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


class Engine:
    """The session and context the workload runs on, restartable so set-up
    can be timed more than once in one process."""

    def __init__(self) -> None:
        self.ctx = None

    def start(self):
        from datafusion_impl_spark.engine import EngineContext
        from datafusion_impl_spark.session import get_spark

        self.ctx = EngineContext(get_spark("perfbench"))
        return self.ctx

    def stop(self) -> None:
        if self.ctx is not None:
            self.ctx.spark.stop()
            self.ctx = None
            drop_udf_handles()

    @staticmethod
    def shutdown() -> None:
        """Stop the JVM the session launched and wait for it to end (its
        Python workers end with it)."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # still running: do not leave it behind
                proc.kill()
                proc.wait(timeout=30)


def drop_udf_handles() -> None:
    """A Python UDF object caches its JVM function, which holds the
    accumulator of the SparkContext it was first used with. Module-level
    UDFs of the package outlive a stopped context, so drop those handles
    before the next context uses them."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("datafusion_impl_spark"):
            continue
        for val in list(vars(mod).values()):
            udf = getattr(val, "_unwrapped", None)
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None


def set_up(engine: Engine, wl, data_dir: str, work: str, t_process: float, on_start=None) -> tuple[list[float], list[float]]:
    """Start the engine and run one cold pass, ``SETUP_REPS`` times. The
    first repetition is timed from process start, minus input generation.
    ``on_start(ctx)`` runs right after each start (the traced run's probes)."""
    times, starts = [], []
    for rep in range(SETUP_REPS):
        if rep:
            engine.stop()
        t0 = time.perf_counter()
        ctx = engine.start()
        starts.append(time.perf_counter() - t0)
        if on_start:
            on_start(ctx)
        wl.start(ctx, data_dir, work)
        for name in wl.mix:
            wl.cold_op(name, 0)
        times.append(time.perf_counter() - t0 + (t_process if rep == 0 else 0.0))
    return times, starts


def environment(ctx, data_dir: str) -> dict:
    import platform

    import pyspark

    import datagen

    jvm = ctx.spark.sparkContext._jvm
    return {
        "cores": cores(),
        "driver_memory": ctx.spark.conf.get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": git_commit(),
        "input_fingerprint": datagen.fingerprint(data_dir),
    }


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree, read from
    ``.git`` directly so nothing outside the checkout is searched."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def declared_metrics(kind: str) -> set[str]:
    """Names of the ``end_to_end`` or ``per_layer`` metrics ``BENCHMARK.json``
    declares; the result line holds those, the details line the rest."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def end_to_end(wl, setup: list[float], loop: dict, peak_rss: int, failed: int) -> tuple[dict, dict]:
    from metrics import latency_summary

    lat = latency_summary([op["latency"] for op in loop["ops"]])
    by_name = {
        name: statistics.median(op["latency"] for op in loop["ops"] if op["name"] == name)
        for name in wl.mix
    }
    metrics = {
        "setup_s": (statistics.median(setup), "s"),
        # less the share of the pass the host gave to other guests, which
        # swings from 2% to over 20% on a shared virtual machine
        "pass_s": (statistics.median(p["wall"] - p["steal"] for p in loop["passes"]), "s"),
        "pass_wall_s": (statistics.median(p["wall"] for p in loop["passes"]), "s"),
        "ops_per_s": (len(loop["ops"]) / loop["wall"], "1/s"),
        "op_p50_s": (lat["p50"], "s"),
        "cpu_s_per_op": (loop["cpu_s"] / len(loop["ops"]), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    details = {
        "setup_reps_s": setup,
        "pass_times_s": loop["passes"],
        "op_samples": lat["n"],
        # the highest percentile with at least ten samples beyond it
        "op_tail": {"percentile": lat["tail_pct"], "value_s": lat["tail"], "samples": lat["n"]},
        "failed_frac": failed / len(loop["ops"]),
        "timed_wall_s": loop["wall"],
        "op_p50_s_by_name": by_name,
    }
    rows = getattr(wl, "rows", None)
    if rows:
        for name, t in by_name.items():
            details[f"{name}_rows_per_s"] = {"value": len(rows) / t, "unit": "1/s"}
    return metrics, details


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datafusion_impl_spark")):
        print(f"no engine package next to {HERE}: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    set_environment(work)

    import metrics as M

    wl = workloads.make(args.workload, cores())
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    t = time.perf_counter()
    wl.make_inputs(data_dir, args.seed)
    phases = {"inputs_s": time.perf_counter() - t}
    t_process = t - t_process  # process start to input generation

    tracer = traced = None
    if args.trace:
        import traced

        tracer = traced.install()
    probes: list[dict] = []

    def probe(ctx) -> None:
        probes.append({"worker_start_s": traced.worker_start_s(ctx.spark)})

    engine = Engine()
    try:
        with M.PeakRss() as rss:
            t = time.perf_counter()
            setup, starts = set_up(engine, wl, data_dir, work, t_process, probe if args.trace else None)
            phases["setup_reps_s"] = time.perf_counter() - t
            t = time.perf_counter()
            bad = wl.check_cold()
            ctx = engine.ctx
            env = environment(ctx, data_dir)
            phases["check_cold_s"] = time.perf_counter() - t
            t = time.perf_counter()
            if args.trace:
                result = traced.run(wl, ctx, args.seed, args.seconds, tracer, probes)
                ops = result["ops"]
            else:
                cpu = M.tree_cpu_s(os.getpid())
                loop = workloads.closed_loop(wl.mix, wl.clients, args.seed, args.seconds, wl.op)
                loop["cpu_s"] = M.tree_cpu_s(os.getpid()) - cpu
                ops = loop["ops"]
            phases["timed_s"] = time.perf_counter() - t
            t = time.perf_counter()
            bad.update(wl.check_final())
            phases["check_final_s"] = time.perf_counter() - t
        failed = M.count_failed(ops, set(bad))
        if args.trace:
            out_metrics, details = result["metrics"], result["details"]
        else:
            out_metrics, details = end_to_end(wl, setup, loop, rss.peak, failed)
        details.update(
            engine_start_s=starts,
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            clients=wl.clients,
            failed_ops=failed,
            phases_s=phases,
            mismatches=bad,
            errors=sorted({op["error"] for op in ops if op["error"]})[:5],
            environment=env,
        )
    finally:
        if tracer is not None:
            tracer.uninstall()
        engine.stop()
        Engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    details["other_metrics"] = {
        k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items() if k not in declared
    }
    line = {
        "correct": not bad,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items() if k in declared},
    }
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump({"result": line, "details": details}, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(results, stem + ".spans.json"), "w") as f:
            json.dump(result["spans"], f)
    print(json.dumps({"details": details}, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
