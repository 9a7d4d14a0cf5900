"""Seeded cross-engine fuzz of ROUND-on-double parity.

The registry-wide ratio-of-aggregates rule (registry.py) is: compute
numerator/denominator exactly, divide ONCE as DOUBLE, then ROUND to
fixed decimals on both sides. The two ROUNDs are different algorithms:

- Spark's ``round(x, d)`` builds a BigDecimal from the double's
  SHORTEST decimal text (``Double.toString``) and rounds that HALF_UP;
- DuckDB's ``round(x, d)`` multiplies the double by 10^d and applies
  ``std::round`` (half away from zero) to the binary product.

They part ways whenever the shortest text is an exact half at digit
d + 1 but the binary value is not, or the reverse: 57/800 prints as
0.07125 (Spark → 0.0713) while 57/800 · 10^4 is 712.4999… (DuckDB →
0.0712). Such inexact decimal ties n/den are common for ratios of
counts — 42 of the 1,408 four-decimal ties with den <= 2000 split the
engines. The binary-exact halves of (b) below (x · 10^d == k + 0.5
exactly) have not split them: both round away from zero.

``functions.round_duckdb`` is DuckDB's algorithm in Spark:
``round(x * 10^d, 0) / 10^d``. Rounding to 0 decimals agrees on both
engines, because below 2^52 a double whose shortest text ends in .5 is
exactly k + 0.5. This fuzz checks both spellings on (a) broad random
doubles and (b) binary-exact halves at the precisions the repo uses (4
and 6 decimals), and ``round_duckdb`` alone on (c) every inexact
n/den tie with den <= 2000 at 4 and 2 decimals, where ``F.round`` is
known to diverge. Ratios that can land on such ties (the ETL analytics)
must round through ``round_duckdb``.
"""

from __future__ import annotations

import math
import os
import random
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.functions import round_duckdb


def _duck_round(rows, d):
    with duckdb.connect() as con:
        con.execute("CREATE TABLE t (x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", rows)
        return [w[0] for w in con.execute(f"SELECT round(x,{d}) FROM t").fetchall()]


def _mismatches(spark, rows, d, spelling):
    df = spark.createDataFrame(rows, "x double")
    got = [r.r for r in df.select(spelling(F.col("x"), d).alias("r")).collect()]
    want = _duck_round(rows, d)
    return [(x, g, w) for (x,), g, w in zip(rows, got, want) if g != w]


def _check(spark, rows, d):
    for spelling in (F.round, round_duckdb):
        bad = _mismatches(spark, rows, d, spelling)
        assert not bad, (spelling.__name__, bad[:5])


def test_round_parity_broad(spark):
    rng = random.Random(99)
    vals = [rng.uniform(-100, 100) for _ in range(1500)]
    vals += [i / 2e4 + 2.5e-5 for i in range(50)]
    vals += [i / 2e6 + 2.5e-7 for i in range(50)]
    vals += [0.00005, -0.00005, 0.0000005, 1.0000005, -1.0000005]
    rows = [(v,) for v in vals]
    _check(spark, rows, 4)
    _check(spark, rows, 6)


def test_round_parity_exact_half(spark):
    """Only x with x * 10^d binary-EXACTLY k + 0.5 can split the two
    rounding algorithms; search that class directly and assert
    parity on every hit."""
    rng = random.Random(7)
    for d, scale in ((4, 10**4), (6, 10**6)):
        hits = []
        for _ in range(30000):
            k = rng.randint(-(10**7), 10**7)
            x = (k + 0.5) / scale
            if x * scale == k + 0.5:
                hits.append((x,))
        assert hits, f"search produced no exact-half inputs at {d}dp"
        _check(spark, hits[:1000], d)


def test_round_duckdb_inexact_decimal_ties(spark):
    """Every n/den (0 <= n <= den <= 2000) that is a half-way tie at 4
    or 2 decimals in exact arithmetic but not exact in binary (the
    reduced denominator is not a power of two): round_duckdb
    must equal DuckDB on all of them. The set must also hold inputs
    where F.round diverges, or it would not test the defect."""
    for decimals in (4, 2):
        scale = 2 * 10**decimals
        ties = [
            (n / den,)
            for den in range(1, 2001)
            for n in range(den + 1)
            if (scale * n) % den == 0
            and (scale * n // den) % 2 == 1
            and bin(den // math.gcd(n, den)).count("1") > 1
        ]
        assert not _mismatches(spark, ties, decimals, round_duckdb)
        assert _mismatches(spark, ties, decimals, F.round), decimals
