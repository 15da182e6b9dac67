r"""``regexp_extract`` — the reference engine's one custom scalar operator.

Reference contract (SURVEY.md §2.1; kernel at
``/root/reference/src/regexp-extract.rs:51-115``, behavior restated at
``/root/reference/readme.md:60-76``):

    regexp_extract(str, pattern, idx) -> str

1. null in ANY input  -> null output for that row   (regexp-extract.rs:87-90)
2. pattern and idx are full per-row COLUMNS, not literals (rs:67-79)
3. no match           -> ''                          (rs:103)
4. group idx out of bounds -> ''                     (rs:100-103)
5. negative group idx -> ''                          (rs:94, usize wrap)
6. invalid regex pattern -> '' per row, not an error (rs:106-109)
7. group 0 = whole match                             (rs:99)

Two implementations, by design:

- :func:`regexp_extract` — thin alias of the built-in
  ``F.regexp_extract`` for literal pattern/idx. JVM-side, codegen'd,
  pattern cached; this is the 100 TB hot path. Diverges from the reference
  only on error cases (Spark raises on bad group idx / bad pattern).
- :func:`regexp_extract_safe` — Arrow-vectorized pandas UDF reproducing
  the full reference contract, including per-row patterns and
  error-swallowing. Compiled patterns are memoized per Python worker
  (fixing the reference's per-row ``Regex::new`` recompile anti-pattern,
  rs:97). The package's worker daemon imports this module before it forks
  (``datafusion_impl_spark.worker_daemon``), so workers start with it,
  pandas and pyarrow already loaded.

Dialect note: the reference uses Rust ``regex`` (linear-time, no
backreferences/lookaround), the fast path uses Java regex, the safe UDF uses
Python ``re``. Every pattern in the reference's tests lies in the common
subset; semantics agree there. The parity UDF additionally ENFORCES the
reference dialect: lookaround (``(?=`` ``(?!`` ``(?<=`` ``(?<!``) and
backreferences (``\1``–``\9``, ``(?P=name)``) fail ``Regex::new`` in the
reference, so contract point 6 maps them to ``''`` — :func:`_compile`
rejects them up front instead of letting Python ``re`` accept (and
backtrack on) a pattern the reference would refuse to compile.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

__all__ = ["regexp_extract", "regexp_extract_safe", "register_regexp", "SAFE_UDF_NAME"]

SAFE_UDF_NAME = "regexp_extract_safe"

# --- fast path -------------------------------------------------------------

def regexp_extract(col: Column | str, pattern: str, idx: int = 1) -> Column:
    """Literal-pattern fast path: built-in JVM expression, whole-stage codegen.

    Matches reference semantics for the happy paths (match/no-match/null input);
    raises (as stock Spark does) on invalid pattern or out-of-range group.
    """
    return F.regexp_extract(col, pattern, idx)


# --- parity kernel -----------------------------------------------------------

def _uses_nonregular_syntax(pattern: str) -> bool:
    """True if ``pattern`` uses constructs Rust ``regex`` rejects at compile
    time: lookaround or backreferences (the crate is linear-time DFA/NFA —
    `regex` docs, "no support for look-around or backreferences"). A single
    left-to-right scan tracking escape and character-class state, so an
    escaped ``\\\\1`` (literal backslash, digit) or a ``[(?=]`` class member
    doesn't false-positive."""
    i, n, in_class = 0, len(pattern), False
    while i < n:
        c = pattern[i]
        if c == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            # \1..\9 outside a class = backreference in Python re (inside a
            # class it's an octal escape there, but Rust rejects it anyway —
            # Python then errors at compile → None already, so skip it here)
            if not in_class and nxt.isdigit() and nxt != "0":
                return True
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            continue
        if c == "(":
            if pattern.startswith(("(?=", "(?!", "(?<=", "(?<!", "(?P="), i):
                return True
        i += 1
    return False


@lru_cache(maxsize=4096)
def _compile(pattern: str) -> re.Pattern | None:
    """Memoized compile; invalid patterns compile to None (contract point 6).
    "Invalid" is judged against the REFERENCE dialect (Rust ``regex``), so
    lookaround/backreference patterns — which Python ``re`` would accept —
    are rejected here too, keeping the two engines' accept/reject sets
    aligned (and keeping the UDF linear-time-honest: what the reference
    cannot backtrack on, we do not backtrack on)."""
    if _uses_nonregular_syntax(pattern):
        return None
    try:
        return re.compile(pattern)
    except re.error:
        return None


def _extract_one(text, pattern, idx) -> str | None:
    """Scalar kernel: the reference's per-row loop body (regexp-extract.rs:85-111).

    Null checks use ``pd.isna``: Arrow hands a nullable int column to pandas as
    float64, so a null ``idx`` arrives as NaN, not None (contract point 1,
    regexp-extract.rs:87-90).
    """
    if pd.isna(text) or pd.isna(pattern) or pd.isna(idx):
        return None
    rx = _compile(pattern)
    if rx is None:
        return ""
    idx = int(idx)
    if idx < 0 or idx > rx.groups:
        return ""
    m = rx.search(text)
    if m is None:
        return ""
    got = m.group(idx)
    return got if got is not None else ""


def regexp_extract_kernel(s: pd.Series, pattern: pd.Series, idx: pd.Series) -> pd.Series:
    """Batch-in/batch-out kernel, the pandas analogue of
    ``regexp_extract_impl(&[ArrayRef]) -> ArrayRef`` (regexp-extract.rs:51).

    Unit-testable without a SparkSession, mirroring the reference's direct
    kernel tests (regexp-extract.rs:117-229).
    """
    return pd.Series(
        [_extract_one(t, p, i) for t, p, i in zip(s, pattern, idx)],
        index=s.index,
        dtype="object",
    )


@F.pandas_udf(StringType())
def regexp_extract_safe(s: pd.Series, pattern: pd.Series, idx: pd.Series) -> pd.Series:
    """Arrow-vectorized parity UDF: exact reference error semantics, per-row
    pattern/idx columns. Use only where those semantics are required — the
    fast path stays JVM-side."""
    return regexp_extract_kernel(s, pattern, idx)


def register_regexp(spark: SparkSession) -> None:
    """Register the parity UDF so both SQL and DataFrame callers resolve it by
    name — mirrors ``ctx.register_udf(create_regexp_extract())``
    (``tests/regexp-tests.rs:11``, ``readme.md:43``)."""
    spark.udf.register(SAFE_UDF_NAME, regexp_extract_safe)
