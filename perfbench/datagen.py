"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is built here, inside the
benchmark's own work directory, from a seed: the TPC-H-shaped star schema
and the LLM-pipeline corpus (``documents``/``embeddings``) as parquet, with
the column names and physical types the engine's loaders expect, and the
``regexp_extract`` CSV. Nothing reads outside data.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table (the TPC-H ratios at sf 0.01). Spark's cost on these
#: shapes is planning and scheduling rather than bytes, so a small scale
#: keeps a pass short without changing which layers do the work.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 500,
    "embeddings": 500,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "green", "red", "small", "large", "steel", "brass", "copper"]
_NOUN = ["bolt", "gear", "ring", "widget", "nut", "spring", "valve"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EMB_DIM = 64
_EMB_LABELS = 10


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    """Midnight TIMESTAMP(micros) values, not UTC-adjusted, uniformly spread
    over ``days`` days from ``start``."""
    offs = rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(np.datetime64(start, "D") + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tpch(out_dir: str, seed: int) -> None:
    """The eight star-schema tables the TPC-H query shapes read."""
    rng = np.random.default_rng(seed)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })
    n = ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = ROWS["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(_ADJ), n), rng.integers(0, len(_NOUN), n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [_TYPES[i] for i in rng.integers(0, len(_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })
    n_orders = ROWS["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_orders, "1995-01-01", 2404),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    n = ROWS["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n, "1995-01-02", 2498),
    })


def write_corpus(out_dir: str, seed: int) -> None:
    """``documents`` (word salad over a small vocabulary, so shingles collide
    the way real near-duplicates do) and ``embeddings`` (unit vectors around
    ten labelled centroids)."""
    rng = np.random.default_rng(seed)
    n = ROWS["documents"]
    texts = [
        " ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), rng.integers(8, 80)))
        for _ in range(n)
    ]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = ROWS["embeddings"]
    centroids = rng.normal(0.0, 1.0, (_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, n)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --- regexp_extract input ----------------------------------------------------

#: Hot templates: (text, pattern, idx, expected), with ``{i}`` the row's
#: number. A row's expected output follows from how its text was built, not
#: from running a regex.
_HOT = [
    ("test-{i}-data", r"-(\d+)-", 1, "{i}"),
    ("id={i};", r"id=(\d+);", 1, "{i}"),
    ("user{i}@host{i}", r"(\w+)@(\w+)", 2, "host{i}"),
    ("v{i}", r"v(\d+)", 0, "v{i}"),
]

#: Distinct tail patterns: more than the parity UDF's 4096-entry compiled
#: pattern cache, so the tail keeps missing it.
TAIL_PATTERNS = 6000
_TAIL_SHARE = 0.1
_EDGE_SHARE = 0.05


def regexp_rows(seed: int, n_rows: int, edge_cases: list[tuple]) -> list[tuple]:
    """``n_rows`` rows of (text, pattern, idx, expected): mostly hot
    templates, a share of distinct tail patterns, and the reference's edge
    cases (invalid regex, lookaround, backreferences, nulls, out-of-range and
    negative idx) spread through the file."""
    rng = np.random.default_rng(seed)
    kind = rng.random(n_rows)
    tail_ids = rng.integers(0, TAIL_PATTERNS, n_rows)
    hot_ids = rng.integers(0, len(_HOT), n_rows)
    edge_ids = rng.integers(0, len(edge_cases), n_rows)
    nums = rng.integers(0, 1_000_000, n_rows)
    rows = []
    for r in range(n_rows):
        i = int(nums[r])
        if kind[r] < _EDGE_SHARE:
            rows.append(tuple(edge_cases[edge_ids[r]]))
        elif kind[r] < _EDGE_SHARE + _TAIL_SHARE:
            t = int(tail_ids[r])
            rows.append((f"k{t}x{i}y", rf"k{t}x(\d+)y", 1, str(i)))
        else:
            text, pat, idx, exp = _HOT[hot_ids[r]]
            rows.append((text.format(i=i), pat, idx, exp.format(i=i)))
    return rows


def _field(v) -> str:
    """A null is an empty unquoted field and an empty string a quoted
    ``""``: Spark's and DuckDB's CSV readers both keep the two apart."""
    if v is None:
        return ""
    s = str(v)
    if s == "" or any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def fingerprint(data_dir: str) -> str:
    """Short hash of every input file's name and schema (parquet) or header
    and size (CSV): two runs with the same fingerprint read the same shapes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, name)
        h.update(name.encode())
        if name.endswith(".parquet"):
            h.update(pq.read_schema(path).to_string().encode())
        else:
            with open(path, "rb") as f:
                h.update(f.readline())
            h.update(str(os.path.getsize(path)).encode())
    return h.hexdigest()[:16]


def write_regexp_csv(path: str, rows: list[tuple]) -> None:
    with open(path, "w") as f:
        f.write("text,pattern,idx,expected\n")
        for row in rows:
            f.write(",".join(_field(v) for v in row) + "\n")
