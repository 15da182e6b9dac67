"""Result arithmetic: percentiles, failure counting, name checks, and the
process tree's CPU time and memory. Nothing here touches Spark, so the tests
import it directly."""

from __future__ import annotations

import os
import re
import threading

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

#: Tail percentiles considered, highest first.
_TAILS = (99, 90, 75, 50)
#: Samples a reported percentile must have beyond it.
MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """The highest percentile with at least ``MIN_BEYOND`` of ``n`` samples
    above it, or None when even the median has fewer."""
    for p in _TAILS:
        if n * (100 - p) / 100 >= MIN_BEYOND:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_summary(latencies: list[float]) -> dict:
    """Median and rule-chosen tail of per-op latencies, with the sample
    count. With too few samples for any tail, the tail is None."""
    p = tail_percentile(len(latencies))
    return {
        "n": len(latencies),
        "p50": percentile(latencies, 50),
        "tail_pct": p,
        "tail": None if p is None else percentile(latencies, p),
    }


def count_failed(ops: list[dict], bad_names: set[str]) -> int:
    """Ops that raised, plus ops of a query whose output check failed."""
    return sum(1 for op in ops if op["error"] is not None or op["name"] in bad_names)


def check_spec(spec: dict) -> list[str]:
    """Problems with a ``BENCHMARK.json`` document, empty when it is valid."""
    want = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != want:
        return [f"keys {sorted(spec)} != {sorted(want)}"]
    problems = []
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    problems += [f"bad name {n!r}" for n in names if not NAME_RE.match(n)]
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        problems.append(f"names used twice: {sorted(dup)}")
    if not 2 <= len(spec["workloads"]) <= 8:
        problems.append("2 to 8 workloads")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or "\n" in w["why"] or len(w["why"]) > 200:
            problems.append(f"workload {w.get('name')}: needs a one-line why")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"}:
            problems.append(f"end_to_end {m.get('name')}: keys")
        elif not 0 < m["bound"] <= 0.25:
            problems.append(f"end_to_end {m['name']}: bound out of range")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            problems.append(f"per_layer {m.get('name')}: keys")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT_RE.match(m.get("unit", "")) or m.get("better") not in ("lower", "higher"):
            problems.append(f"metric {m.get('name')}: unit or better")
    if "setup_s" not in {m["name"] for m in spec["end_to_end"]}:
        problems.append("setup_s missing")
    if not (isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60):
        problems.append("run_seconds must be a whole number from 1 to 60")
    return problems


# --- memory -------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the second field after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def steal_share_s() -> float:
    """Seconds the host has taken from this virtual machine's CPUs since
    boot, divided by the CPUs this process may use: the wall time a thread
    here lost, on average, to other guests."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])  # the "cpu" line's steal field
    return steal / os.sysconf("SC_CLK_TCK") / len(os.sched_getaffinity(0))


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system) used by ``root`` and its descendants,
    counting children they have already reaped. Time the host steals from a
    shared virtual machine is not in it."""
    kids = _children()
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Python
    driver, the JVM it launched and the JVM's Python workers)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory in a background thread
    and keeps the peak."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
