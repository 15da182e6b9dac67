"""Tracing for ``--trace 1`` runs.

Spans are recorded from outside the program: the public entry points of
each layer are wrapped at every module binding that holds them (a module
that did ``from ...registry import load_table`` holds its own name), and
the benchmark's op code opens spans around the calls it makes. Spans stay
in memory until the run writes them out. Spark-side counters are read at
the same op boundaries: the executed plan's SQL metrics, Catalyst's
planning-phase tracker, the job group's jobs and tasks, a status-tracker
poller and a streaming-query listener.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_PACKAGE = "datafusion_impl_spark"


class Tracer:
    """In-memory span recorder. A span is (id, parent, op, layer, name,
    start, end); spans of one op share the op's id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        op = self._local.__dict__.get("op")
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "parent": parent, "op": op, "layer": layer,
                     "name": name, "start": t0, "end": t1}
                )

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one benchmark op."""
        self._local.op = op_id
        try:
            with self.span("bench", name):
                yield
        finally:
            self._local.op = None

    def _wrapper(self, func, layer: str, name: str):
        @functools.wraps(func)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return func(*args, **kwargs)

        return traced

    def wrap_everywhere(self, func, layer: str, name: str) -> None:
        """Replace ``func`` at every module binding of the package."""
        traced = self._wrapper(func, layer, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name.startswith(_PACKAGE) or mod_name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    setattr(mod, attr, traced)
                    self._undo.append((mod, attr, func))

    def wrap_method(self, cls, attr: str, layer: str, name: str) -> None:
        func = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(func, layer, name))
        self._undo.append((cls, attr, func))

    def install(self) -> None:
        """Wrap the layers' public entry points that are plain callables.
        The ``functions`` layer's column-expression functions (one of them
        a pandas UDF object, which must stay a UDF) get spans at the
        benchmark's call sites instead."""
        from datafusion_impl_spark import session
        from datafusion_impl_spark.engine import EngineContext
        from datafusion_impl_spark.sources import registry

        self.wrap_everywhere(session.get_spark, "session", "get_spark")
        self.wrap_everywhere(session.configure, "session", "configure")
        self.wrap_everywhere(registry.load_table, "sources", "load_table")
        self.wrap_everywhere(registry.read_csv, "sources", "read_csv")
        self.wrap_method(EngineContext, "__init__", "engine", "context_init")
        self.wrap_method(EngineContext, "read_csv", "engine", "read_csv")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, func = self._undo.pop()
            setattr(owner, attr, func)

    def clear(self) -> None:
        with self._lock:
            self.spans = []


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: total span time minus the part covered by child spans."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += s["end"] - s["start"] - covered[s["id"]]
    return dict(out)


def span_totals(spans: list[dict], layer: str, name: str) -> tuple[int, float]:
    """(calls, total seconds) of the spans with this layer and name."""
    hits = [s["end"] - s["start"] for s in spans if s["layer"] == layer and s["name"] == name]
    return len(hits), sum(hits)


# --- Spark-side counters -------------------------------------------------------


def plan_nodes(qe) -> list[tuple[str, dict[str, int]]]:
    """(node class, SQL metrics) for every node of the executed, post-AQE
    plan. Read after an action ran through this same QueryExecution."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if name == "ReusedExchangeExec":
            out.append((name, {}))
            return
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append((name, metrics))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(qe.executedPlan())
    return out


def plan_counters(nodes: list[tuple[str, dict[str, int]]]) -> dict[str, int]:
    c: dict[str, int] = defaultdict(int)
    for name, m in nodes:
        rows = m.get("numOutputRows", 0)
        if "Scan" in name:
            c["scan_rows"] += rows
        if "Join" in name or name == "CartesianProductExec":
            c["join_rows"] += rows
        if name in ("ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec"):
            c["exchanges"] += 1
        c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        c["spill_bytes"] += m.get("spillSize", 0)
        c["python_sent"] += m.get("pythonDataSent", 0)
        c["python_received"] += m.get("pythonDataReceived", 0)
    return dict(c)


def planning_phases(qe) -> dict[str, float]:
    """Seconds per phase from Catalyst's QueryPlanningTracker."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def group_tasks(sc, group: str) -> dict[str, int]:
    """Jobs, tasks run and tasks failed under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


class BusyPoller:
    """Polls the task scheduler: tasks running against cores, and tasks of
    submitted task sets still waiting for a core. (The status tracker's
    stage counts lag: the status store updates a stage at most every 100 ms,
    so a short stage reads as never started.)"""

    def __init__(self, sc, cores: int, interval_s: float = 0.1) -> None:
        self._sched = sc._jsc.sc().taskScheduler()
        self._cores = cores
        self._interval = interval_s
        self.samples: list[tuple[int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "BusyPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            running = 0
            it = self._sched.runningTasksByExecutors().valuesIterator()
            while it.hasNext():
                running += it.next()
            pending = 0
            sets = self._sched.rootPool().getSortedTaskSetQueue()
            for i in range(sets.size()):
                ts = sets.apply(i)
                pending += max(0, ts.numTasks() - ts.tasksSuccessful() - ts.runningTasks())
            self.samples.append((running, pending))

    def busy_frac(self) -> float:
        if not self.samples:
            return 0.0
        return sum(min(a, self._cores) for a, _ in self.samples) / (self._cores * len(self.samples))

    def pending_mean(self) -> float:
        if not self.samples:
            return 0.0
        return sum(p for _, p in self.samples) / len(self.samples)


class StreamCounter(StreamingQueryListener):
    """Micro-batches, trigger time and write-ahead-log commit time of every
    streaming query the run starts."""

    def __init__(self) -> None:
        self.batches = 0
        self.trigger_s = 0.0
        self.wal_s = 0.0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        d = event.progress.durationMs
        with self._lock:
            self.batches += 1
            self.trigger_s += d.get("triggerExecution", 0) / 1000.0
            self.wal_s += d.get("walCommit", 0) / 1000.0

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
