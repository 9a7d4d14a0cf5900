"""Differential tests: every registered query vs its DuckDB oracle.

Replicates the driver's t2 check locally (row-count + column names +
order-insensitive normalized value multiset) so regressions surface
before a round ends. Floats normalize to 9 significant digits —
stricter than any driver tolerance we'd expect, loose enough to absorb
cross-engine last-ulp noise on DOUBLE arithmetic.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pytest

from duckdb_data_eng_proj_spark.queries import REGISTRY
from perfbench.workloads import LSH_DEDUP_OPS
from tests.conftest import SF_DIR


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _normalize_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _assert_matches_oracle(qid, spark, oracle_con):
    spec = REGISTRY[qid]
    df = spec.fn(spark, SF_DIR)
    spark_rows = df.collect()
    spark_cols = df.columns

    if spec.oracle is None:
        assert len(spark_rows) >= 0  # rows-only smoke
        return

    cur = oracle_con.execute(spec.oracle)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{qid}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{qid}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s_norm = _normalize_rows([tuple(r) for r in spark_rows], spark_cols)
    d_norm = _normalize_rows(duck_rows, duck_cols)
    if s_norm != d_norm:
        diffs = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:5]
        raise AssertionError(f"{qid}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("qid", sorted(REGISTRY))
def test_query_matches_oracle(qid, spark, oracle_con):
    _assert_matches_oracle(qid, spark, oracle_con)


@pytest.fixture(params=[4, 16], ids=lambda n: f"width{n}")
def latency_profile(spark, request):
    """The shared session switched to the latency profile's SQL settings
    (AQE off, a fixed shuffle width) for one test, then restored. The
    profile's other settings are context-level and cannot change on a
    live session; they do not change results."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(request.param))
        yield spark
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("qid", LSH_DEDUP_OPS)
def test_lsh_dedup_op_matches_oracle_under_latency_profile(qid, latency_profile, oracle_con):
    """The benchmark runs these ops under the latency profile; the test
    above only checks the default (AQE) profile."""
    _assert_matches_oracle(qid, latency_profile, oracle_con)
