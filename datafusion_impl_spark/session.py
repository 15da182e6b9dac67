"""SparkSession factory with scale-aware defaults.

The reference engine is a single-process tokio runtime sharing one
``SessionContext`` across concurrent tasks (``tests/regexp-tests.rs:155-177``).
The Spark equivalent is one ``SparkSession`` shared across threads; this module
centralizes its construction so every entry point (tests, bench, driver) gets
the same tuned configuration.

Config rationale (targets a 1000-executor / 100 TB deployment; local[N] is
only the test harness):

- AQE on (+ skew join + partition coalescing): runtime re-planning replaces
  hand-tuned shuffle partition counts at scale and splits skewed partitions.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE ceiling; locally we pin
  it near core count so tiny SF tests don't schedule 200 empty tasks.
- Arrow on: every pandas-UDF boundary (the only Python hot paths we allow)
  moves columnar batches, mirroring the reference's Arrow kernel contract.
- Session timezone UTC: parquet timestamps compare bit-identically against
  the DuckDB oracle.

Python workers: ``spark.python.daemon.module`` is
``datafusion_impl_spark.worker_daemon``. Spark's own daemon imports pyspark
from ``pyspark.zip``, which holds source only, so every session's daemon
compiled pyspark again, and each forked worker then imported pandas, pyarrow
and the kernel on its own. The package's daemon prefers the installed,
byte-compiled pyspark of the same version and preloads those modules once,
before it forks. It starts, as Spark's does, only when a task first needs
Python. ``get_spark`` also puts the package's parent directory on the
workers' ``PYTHONPATH``, so workers (and the daemon) import the package
whatever the driver's working directory is.

Config pins: every stage that needs other runtime confs
(``operators.bounded_iteration``, the streaming shuffle and state-store
pins) runs under ``scoped_conf``, the one place in the package that sets and
restores runtime confs on a live session. Pins take turns under one
process-wide lock, so overlapping pins from concurrent clients always put
back the values from before any pin. A ``spark.newSession()`` child would
isolate the confs but cannot carry a pin: frames built from the caller's
session plan with the caller's confs, and the caller cannot see a
memory-sink view that a stream in the child registered.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Defaults sized to the cores this process may run on (local[N] harness); on
# a real cluster the same settings are safe because AQE re-plans partition
# counts at runtime.
_LOCAL_CORES = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _default_driver_mem() -> str:
    """Half the machine's physical memory, in MiB: the driver JVM also needs
    room outside its heap, and so do the Python workers it starts."""
    mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{mib // 2}m"


_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())

_WORKER_DAEMON = "datafusion_impl_spark.worker_daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply the engine's standard configs to any builder (idempotent)."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _LOCAL_CORES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP (LTZ with
        # UTC session tz) rather than TIMESTAMP_NTZ, so schemas line up with
        # the DuckDB oracle and with plain-SQL timestamp literals.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); read as raw nanos once,
        # session-wide, so no reader mutates shared conf at query time
        # (sources/registry.load_table truncates to micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # documents/embeddings rows are wide (long text, float vectors);
        # cap arrow batch size so Python UDF workers stay memory-bounded.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # The AppStatusListener retains per-execution plan graphs and
        # job/stage state even with the UI disabled (defaults: 1000
        # executions / 1000 jobs). A long single-JVM run over the whole
        # 135-query registry accumulates hundreds of retained executions of
        # pure heap pressure — the uniform r2→r3 bench drift. Keep only a
        # handful.
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
    )


def get_spark(app_name: str = "datafusion_impl_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Thread-safe to share across concurrent queries, matching the reference's
    cloned-context concurrency test (``tests/regexp-tests.rs:155-177``).
    """
    # Best-effort protobuf for transformWithStateInPandas: must run before
    # the JVM starts so workers inherit the (possibly shimmed) PYTHONPATH.
    from datafusion_impl_spark.pbshim import ensure_protobuf

    ensure_protobuf()
    # Same timing for the package itself: the worker daemon is one of its
    # modules, and Python UDFs pickle package functions by reference.
    pypath = os.environ.get("PYTHONPATH", "")
    if _PACKAGE_PARENT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pypath + os.pathsep if pypath else "") + _PACKAGE_PARENT
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{_LOCAL_CORES}]")
    builder = builder.config("spark.driver.memory", _DRIVER_MEM)
    builder = builder.config("spark.ui.enabled", "false")
    # Console progress bars interleave carriage-return frames with stdout;
    # any consumer that captures a bounded output tail (the bench driver)
    # would see the JSON result line drowned in progress frames.
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    builder = builder.config("spark.python.daemon.module", _WORKER_DAEMON)
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set the runtime ``confs`` on ``spark`` for the ``with`` body, then put
    each key back: a key that had a value gets it again, a key left at its
    default is unset.

    Pins take turns: the body runs under one process-wide re-entrant lock,
    so a pin that overlaps another waits for it, and each restore puts back
    the values from before any pin. A thread may nest pins; the inner one
    restores first. What the lock does not cover: a query that another
    thread plans without a pin, while a pin is held, sees the pinned values.
    The package only pins plan-shape confs (partition counts, AQE, the state
    store provider), which change how that query runs, never its result.
    An empty pin sets nothing and takes no turn."""
    if not confs:
        yield
        return
    with _CONF_LOCK:
        saved = {key: spark.conf.get(key, None) for key in confs}
        try:
            for key, value in confs.items():
                spark.conf.set(key, value)
            yield
        finally:
            for key, value in saved.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)


@functools.cache
def _scratch_root() -> str:
    """The process's scratch root, removed at exit."""
    root = tempfile.mkdtemp(prefix="datafusion_impl_spark_scratch_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch_dir() -> str:
    """A fresh directory under the process's scratch root: no other call
    or process writes or clears it. Every file a query writes to read
    back goes in one."""
    return tempfile.mkdtemp(dir=_scratch_root())
