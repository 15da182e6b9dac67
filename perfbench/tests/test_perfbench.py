"""Tests of the benchmark's own arithmetic and input generator. None of
them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re

import pytest

import datagen
import metrics as M
import run
import workloads

SPEC_PATH = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


@pytest.fixture(scope="module")
def spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


def test_spec_is_valid(spec):
    assert M.check_spec(spec) == []
    assert spec["paths"] == ["perfbench"]
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("name,ok", [
    ("setup_s", True), ("plans.exec_s", True), ("9lives", True),
    ("_hidden", False), ("has space", False), ("x" * 65, False), ("", False),
])
def test_metric_name_rule(name, ok):
    assert bool(M.NAME_RE.match(name)) is ok


def test_check_spec_flags_problems(spec):
    bad = json.loads(json.dumps(spec))
    bad["end_to_end"][0]["bound"] = 0.5
    bad["per_layer"].append(dict(bad["per_layer"][0]))
    problems = M.check_spec(bad)
    assert any("bound" in p for p in problems)
    assert any("twice" in p for p in problems)


class _FakeRegexp:
    mix = ("fast", "safe")
    rows = [("t", "p", 1, "e")] * 1000


def _loop():
    ops = [
        {"name": name, "client": 0, "latency": lat, "error": None}
        for name, lat in [("fast", 1.0), ("safe", 2.0), ("fast", 1.2), ("safe", 2.4)]
    ]
    passes = [{"wall": 3.0, "steal": 0.0}, {"wall": 4.0, "steal": 0.4}]
    return {"ops": ops, "passes": passes, "wall": 6.6, "cpu_s": 10.0}


def test_end_to_end_reports_every_declared_metric(spec):
    metrics, details = run.end_to_end(_FakeRegexp(), [9.0, 3.0, 4.0], _loop(), 2**30, 1)
    units = {k: u for k, (_, u) in metrics.items()}
    for m in spec["end_to_end"]:
        assert units[m["name"]] == m["unit"]
    assert metrics["setup_s"][0] == 4.0
    assert metrics["pass_s"][0] == pytest.approx(3.3)
    assert metrics["pass_wall_s"][0] == pytest.approx(3.5)
    assert metrics["ops_per_s"][0] == pytest.approx(4 / 6.6)
    assert metrics["peak_rss_mb"][0] == 1024
    assert metrics["cpu_s_per_op"][0] == 2.5
    assert details["failed_frac"] == 0.25
    assert details["op_tail"] == {"percentile": None, "value_s": None, "samples": 4}
    assert details["fast_rows_per_s"]["value"] == pytest.approx(1000 / 1.1)


@pytest.mark.parametrize("n,p", [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (100, 90), (999, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert M.tail_percentile(n) == p


def test_latency_summary_states_sample_count():
    lat = [float(i) for i in range(1, 101)]
    s = M.latency_summary(lat)
    assert s["n"] == 100
    assert s["tail_pct"] == 90
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail"] == pytest.approx(90.1)
    few = M.latency_summary([1.0, 2.0, 3.0])
    assert few["tail_pct"] is None and few["tail"] is None and few["p50"] == 2.0


def test_count_failed_counts_raised_and_wrong_ops():
    ops = [
        {"name": "q1", "error": None},
        {"name": "q1", "error": "ValueError: boom"},
        {"name": "q2", "error": None},
        {"name": "q2", "error": None},
        {"name": "q3", "error": None},
    ]
    assert M.count_failed(ops, set()) == 1
    assert M.count_failed(ops, {"q2"}) == 3
    assert M.count_failed(ops, {"q1"}) == 2


def test_closed_loop_records_failures_and_runs_whole_passes():
    seen = []

    def op(name, client):
        seen.append((client, name))
        if name == "bad":
            raise ValueError("boom")

    loop = workloads.closed_loop(("a", "b", "bad"), 2, 7, 0.0, op)
    assert len(loop["ops"]) == 6 and len(loop["passes"]) == 2
    assert [op["name"] for op in loop["ops"] if op["error"]] == ["bad", "bad"]
    assert all(op["error"] is None for op in loop["ops"] if op["name"] != "bad")
    again = []
    workloads.closed_loop(("a", "b", "bad"), 2, 7, 0.0, lambda n, c: again.append((c, n)))
    assert sorted(again) == sorted(seen)
    by_client = lambda xs, c: [n for cc, n in xs if cc == c]  # noqa: E731
    assert by_client(again, 0) == by_client(seen, 0)


EDGE = [
    ("", r"(.*)", 1, ""),
    ("some text", r"[invalid(regex", 1, ""),
    (None, r"(\d+)", 1, None),
    ("a,b", r"(\w),", 1, "a"),
]


def test_regexp_rows_same_seed_same_rows():
    a = datagen.regexp_rows(5, 5000, EDGE)
    assert a == datagen.regexp_rows(5, 5000, EDGE)
    assert a != datagen.regexp_rows(6, 5000, EDGE)


def test_regexp_rows_expected_values_and_tail():
    rows = datagen.regexp_rows(1, 100_000, EDGE)
    edge = set(EDGE)
    generated = [r for r in rows if r not in edge]
    assert 0 < len(rows) - len(generated) < len(rows) // 10
    for text, pattern, idx, expected in generated[:5000]:
        assert re.search(pattern, text).group(idx) == expected
    tail = {p for _, p, _, _ in generated if p.startswith("k")}
    assert len(tail) > 4096  # more distinct patterns than the compile cache holds


def test_regexp_csv_keeps_null_apart_from_empty(tmp_path):
    path = str(tmp_path / "r.csv")
    datagen.write_regexp_csv(path, EDGE)
    with open(path) as f:
        lines = f.read().splitlines()
    assert lines[0] == "text,pattern,idx,expected"
    assert lines[1] == '"",(.*),1,""'
    assert lines[3] == ",(\\d+),1,"
    assert lines[4] == '"a,b","(\\w),",1,a'
