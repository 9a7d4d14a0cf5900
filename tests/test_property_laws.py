"""Property-based laws (hypothesis) for the cross-engine shims.

These pin the pure-Python-checkable algebra that the engine's
determinism rests on: exact_units vs round-half-away, the md5 bucket
split's stability and proportions, and month_boundary_diff vs DuckDB's
date_diff('month') — each checked against DuckDB directly over
generated inputs, not hand-picked cases.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

# 2dp fixed-point doubles (what every money column in the testdata is):
# generate exact cents, divide once — the representable subset.
cents_st = st.integers(min_value=-(10**12), max_value=10**12)
dates_st = st.dates(min_value=dt.date(1970, 1, 1), max_value=dt.date(2100, 1, 1))


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


@settings(max_examples=200, deadline=None)
@given(cents_st)
def test_exact_units_matches_duckdb_round(c):
    """(v*100 + signum*0.5) truncated == DuckDB CAST(round(v*100) AS
    BIGINT) for every 2dp-representable double, both signs."""
    v = c / 100.0
    import math

    fast = int(v * 100 + math.copysign(0.5, v)) if v != 0 else 0
    (want,) = duckdb.sql(
        f"SELECT CAST(round(CAST({v!r} AS DOUBLE) * 100, 0) AS BIGINT)"
    ).fetchone()
    assert fast == want, (v, fast, want)


@settings(max_examples=100, deadline=None)
@given(dates_st, dates_st)
def test_month_boundary_diff_matches_duckdb(a, b):
    """(year*12+month) delta == DuckDB date_diff('month', a, b): the
    boundary-crossing count, NOT fractional months."""
    want_expr = f"date_diff('month', DATE '{a}', DATE '{b}')"
    (want,) = duckdb.sql(f"SELECT {want_expr}").fetchone()
    got = (b.year * 12 + b.month) - (a.year * 12 + a.month)
    assert got == want, (a, b, got, want)


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=10**12))
def test_split_bucket_is_engine_identical(doc_id):
    """The md5 split bucket (first 4 hex chars mod 100) computed in
    Python == DuckDB through the shipped sketches.md5_int_sql — the
    property ext_split_train's stability depends on (the Spark twin
    is oracle-checked separately at sf0.01)."""
    import hashlib

    from duckdb_data_eng_proj_spark.operators.sketches import md5_int_sql

    got = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100
    (want,) = duckdb.sql(
        f"SELECT {md5_int_sql(repr(str(doc_id)), 1, 4)} % 100"
    ).fetchone()
    assert got == want, (doc_id, got, want)
