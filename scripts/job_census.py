#!/usr/bin/env python3
"""Spark-job census: how many jobs each query starts while it is BUILT (the
eager checkpoints, counts and collects that run before the query function
returns its DataFrame) and while it is EXECUTED (a write to the ``noop``
sink), and which call site in the package started each build job.

    python scripts/job_census.py --sf-dir DIR [--json OUT] [--sites] [name ...]

A ``name`` is a query name or a module of the registry (``graph``, ``text``,
``dedup``, ...), which selects that module's queries; no name selects all
of them. The queries run one after another in one ``get_spark`` session, so
set ``SPARK_GRAFT_CPUS`` to fix the core count the numbers belong to.

Attribution: every DataFrame action the package calls while a query builds
(``localCheckpoint``, ``count``, ``collect``, ...) runs under its own job
group, named after the innermost package frame that called it; jobs started
outside such a call (schema inference, ``createDataFrame``, ...) fall in the
query's ``<other>`` group. Jobs that a stream starts on its own thread are
not counted. The first queries of a process also pay JVM warm-up, so read
the times as a ranking, not a baseline; the job counts do not depend on it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame

import __spark_entry__ as entry
from datafusion_impl_spark import session
from datafusion_impl_spark.operators import materialize

PACKAGE = os.path.dirname(os.path.abspath(session.__file__))
ACTIONS = ("localCheckpoint", "checkpoint", "count", "collect", "first",
           "take", "head", "toPandas", "toLocalIterator", "isEmpty")
OTHER = "<other>"
EXEC = "<exec>"
#: enough for the whole registry in one session; ``get_spark`` keeps 50
RETAINED_JOBS = "100000"


def census_session():
    """``get_spark``'s session with enough retained jobs for the status
    tracker to still know every job of the run when it is read."""
    configure = session.configure
    session.configure = lambda builder, *a, **k: configure(builder, *a, **k).config(
        "spark.ui.retainedJobs", RETAINED_JOBS
    )
    try:
        return session.get_spark("job-census")
    finally:
        session.configure = configure


def call_site() -> str:
    """``module.py:line`` of the innermost package frame on the stack,
    ``materialize``'s caller for a checkpoint."""
    f = sys._getframe(2)
    while f is not None and (
        not f.f_code.co_filename.startswith(PACKAGE)
        or f.f_code is materialize.__code__
    ):
        f = f.f_back
    if f is None:
        return OTHER
    return f"{os.path.relpath(f.f_code.co_filename, PACKAGE)}:{f.f_lineno}"


def attribute_actions(sc, query_group: list[str], groups: set[str]) -> None:
    """Run each outermost DataFrame action under the job group
    ``<query>\\t<call site>``, adding the name to ``groups``; nested actions
    stay in their caller's group."""
    for name in ACTIONS:
        original = getattr(DataFrame, name)

        def wrapped(self, *args, _orig=original, **kwargs):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            if outer != query_group[0]:
                return _orig(self, *args, **kwargs)
            group = f"{query_group[0]}\t{call_site()}"
            groups.add(group)
            sc.setJobGroup(group, "census")
            try:
                return _orig(self, *args, **kwargs)
            finally:
                sc.setJobGroup(query_group[0], "census")

        setattr(DataFrame, name, wrapped)


def select(names: list[str]) -> dict:
    modules = {m.__name__.rsplit(".", 1)[-1]: m for m in entry._MODULES}
    queries = entry.queries()
    if not names:
        return queries
    picked = {}
    for n in names:
        if n in modules:
            picked.update({q: queries[q] for q in modules[n].QUERIES})
        elif n in queries:
            picked[n] = queries[n]
        else:
            raise SystemExit(f"unknown query or module: {n}")
    return picked


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", required=True,
                    help="the scale factor's table directory, e.g. sf0.01")
    ap.add_argument("--json", help="also write one JSON record per query here")
    ap.add_argument("--sites", action="store_true",
                    help="print the build jobs of each call site")
    args = ap.parse_args()

    queries = select(args.names)
    spark = census_session()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    query_group, groups = [""], set()
    attribute_actions(sc, query_group, groups)

    records = []
    for n, (name, fn) in enumerate(queries.items()):
        query_group[0] = f"census-{n}-{name}"
        groups.clear()
        sc.setJobGroup(query_group[0], "census")
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{query_group[0]}\t{EXEC}", "census")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc._jsc.clearJobGroup()
        # job-start events reach the status store through the listener bus
        bus.waitUntilEmpty()
        sites = Counter()
        for group in [query_group[0], f"{query_group[0]}\t{EXEC}", *groups]:
            site = group.partition("\t")[2] or OTHER
            sites[site] += len(tracker.getJobIdsForGroup(group))
        exec_jobs = sites.pop(EXEC, 0)
        rec = {
            "query": name,
            "build_jobs": sum(sites.values()),
            "exec_jobs": exec_jobs,
            "build_s": round(t1 - t0, 3),
            "exec_s": round(t2 - t1, 3),
            "sites": dict(sorted((+sites).items())),
        }
        records.append(rec)
        print(f"{name:44s} build {rec['build_jobs']:4d} jobs {rec['build_s']:7.2f} s"
              f"   exec {exec_jobs:3d} jobs {rec['exec_s']:6.2f} s", flush=True)
        if args.sites:
            for site, k in rec["sites"].items():
                print(f"    {k:4d}  {site}", flush=True)
    total = sum(r["build_jobs"] for r in records)
    print(f"{'TOTAL':44s} build {total:4d} jobs over {len(records)} queries")
    if args.json:
        with open(args.json, "w") as out:
            for rec in records:
                out.write(json.dumps(rec) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
