"""Cross-engine scalar shims (SURVEY.md §2.7 gotchas, as functions).

Each exists because the naive Spark spelling diverges from DuckDB
semantics; tests/test_semantic_laws.py pins the laws.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def null_or_blank(c: Column) -> Column:
    """``x IS NULL OR TRIM(x) = ''`` — the reference's blank test
    (pipeline.py:93,149,216,...)."""
    return c.isNull() | (F.trim(c) == "")


def try_int_duckdb(c: Column) -> Column:
    """DuckDB-compatible TRY_CAST(... AS INTEGER): decimal strings
    round half-away ('12.5' → 13) instead of nulling (Spark default).
    Residual divergence: hex strings parse only in DuckDB."""
    return F.round(c.try_cast("double"), 0).try_cast("int")


def round_duckdb(c: Column, d: int) -> Column:
    """DuckDB ``round(x, d)`` on a DOUBLE: scale by 10^d, round half
    away from zero on that binary product, scale back.

    ``F.round(x, d)`` instead rounds half-up from the double's shortest
    decimal text, so an inexact tie splits the engines: 57/800 is
    0.07125 as text (Spark → 0.0713) but 712.4999… as 57/800·10^4
    (DuckDB → 0.0712). Rounding the scaled value to 0 decimals is the
    same on both engines: below 2^52 a double whose shortest text ends
    in .5 is exactly k + 0.5 (tests/test_round_fuzz.py)."""
    scale = 10**d
    return F.round(c * scale, 0) / scale


def exact_units(c: Column, scale: int = 100) -> Column:
    """Exact integer units (cents for scale=100) of a fixed-point
    double, as BIGINT: ``cast(c*scale + signum*0.5 as long)``.

    Semantically ROUND-half-away-from-zero — but as pure arithmetic
    codegen. Spark's ``F.round(double, 0)`` routes every row through a
    Java BigDecimal round-trip, which measured 2× slower across a
    4-metric aggregate (tpch_q1); c*scale is within ±ulp of an integer
    for fixed-point inputs, so add ±0.5 and truncate-toward-zero gives
    the identical long. Oracles keep spelling it
    ``CAST(round(c*scale, 0) AS BIGINT)`` — same value, and the
    equality is pinned by tests/test_semantic_laws.py."""
    return (c * scale + F.signum(c) * 0.5).cast("long")


def doc_bucket100(doc_id: Column) -> Column:
    """Leakage-safe 0–99 document bucket: first 4 hex chars of
    md5(doc_id) mod 100 — INT, matching the oracle fragment
    ``CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
    % 100``. md5 is the shared cross-engine hash (engine-native
    hash() must never gate a split); the bucket is a pure function of
    the stable id, so assignment survives runs, engines, and
    repartitions. Shared by ext_split_train, ext_domain_mix, and
    pipe_corpus_clean_v2 (r16 consolidation of three inline copies).
    """
    return (
        F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )


def month_boundary_diff(a: Column, b: Column) -> Column:
    """DuckDB ``date_diff('month', a, b)``: counts month-boundary
    crossings (01-31→02-01 = 1), NOT fractional months_between."""
    return (F.year(b) * 12 + F.month(b)) - (F.year(a) * 12 + F.month(a))
