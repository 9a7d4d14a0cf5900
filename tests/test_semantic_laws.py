"""Law-based tests for the semantic shims (SURVEY.md §5, G-items).

Batched property style: a single adversarial+random corpus becomes one
DataFrame, one DuckDB relation — every law checked in one pass per
engine (per-example Spark jobs would be 100× slower for no coverage
gain).
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest
from pyspark.sql import functions as F

ADVERSARIAL = [
    "NULL",
    "null",
    "",
    " ",
    "  42  ",
    "-0",
    "0.0",
    "1e3",
    "1E-2",
    "+5",
    "12.5",
    "-12.5",
    ".5",
    "5.",
    "1,000",
    "€50",
    "nan",
    "NaN",
    "inf",
    "-inf",
    "Infinity",
    "0x1f",
    "2024-11-15",
    "2024-1-5",
    "2024/11/15",
    "15-11-2024",
    "2024-13-01",
    "2024-02-30",
    "2024-02-29",
    "2023-02-29",
    "not_a_date",
    "2024-11-15 10:30:00",
    "99999999999999999999",
    "-99999999999999999999",
    "3.4028236e38",
    "1.7976931348623157e308",
    "1e999",
    "true",
    "false",
    "\t7\n",
]


@pytest.fixture(scope="module")
def corpus():
    rng = random.Random(42)
    rand = []
    for _ in range(200):
        kind = rng.randrange(4)
        if kind == 0:
            rand.append(str(rng.uniform(-1e6, 1e6)))
        elif kind == 1:
            rand.append(str(rng.randint(-10**12, 10**12)))
        elif kind == 2:
            d = dt.date(2000, 1, 1) + dt.timedelta(days=rng.randint(0, 20000))
            rand.append(d.isoformat())
        else:
            rand.append("".join(rng.choice("0123456789abc-/. ") for _ in range(8)))
    return ADVERSARIAL + rand


def test_try_cast_total_and_engine_equal(spark, corpus):
    """try_cast never throws (totality), and the engines agree wherever
    the ETL depends on agreement (G-fn_try_cast):
    - DOUBLE: full agreement on every input (NaN≡NaN).
    - INTEGER via the ETL's _try_int shim: agreement except hex
      strings (DuckDB parses '0x1f'; Spark does not — documented).
    - DATE: Spark-accepted ⊆ DuckDB-accepted with equal values
      (DuckDB additionally accepts '2024/11/15', 'Infinity', …).
    """
    from duckdb_data_eng_proj_spark.etl.loan_pipeline import _try_int

    df = spark.createDataFrame([(s,) for s in corpus], "s: string")
    got = df.select(
        "s",
        F.col("s").try_cast("double").alias("d"),
        _try_int(F.col("s")).alias("i"),
        F.col("s").try_cast("date").alias("dt"),
    ).collect()

    def same(a, b):
        if a is None or b is None:
            return a is b
        if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
            return True  # NaN ≡ NaN
        return a == b

    con = duckdb.connect()
    mismatches = []
    for row in got:
        dd, di, ddt = con.execute(
            "SELECT TRY_CAST(? AS DOUBLE), TRY_CAST(? AS INTEGER), TRY_CAST(? AS DATE)",
            [row.s, row.s, row.s],
        ).fetchone()
        if not same(dd, row.d):
            mismatches.append(("double", row.s, row.d, dd))
        is_hex = row.s.strip().lower().startswith(("0x", "-0x", "+0x"))
        if not is_hex and not same(di, row.i):
            mismatches.append(("int", row.s, row.i, di))
        if row.dt is not None and not same(ddt, row.dt):
            mismatches.append(("date", row.s, row.dt, ddt))
    assert not mismatches, f"first mismatches: {mismatches[:10]}"


def test_month_diff_boundary_law(spark):
    """fn_date_diff_month counts month-boundary crossings: diff(d, d+1day)
    is 1 iff the next day starts a new month, regardless of day-of-month
    (G-fn_date_diff_month ✓probe anchors: 01-31→02-01 = 1; 01-01→01-31 = 0)."""
    start = dt.date(2023, 11, 25)
    days = [start + dt.timedelta(days=i) for i in range(500)]
    df = spark.createDataFrame([(d,) for d in days], "d: date")
    nxt = F.date_add("d", 1)
    diff = (F.year(nxt) * 12 + F.month(nxt)) - (F.year("d") * 12 + F.month("d"))
    rows = df.select("d", diff.alias("m")).collect()
    for r in rows:
        expected = 1 if (r.d + dt.timedelta(days=1)).day == 1 else 0
        assert r.m == expected, r


def test_null_aware_in_flag_three_valued(spark):
    """G2: x IN (subquery) three-valued logic, incl. NULL-in-set and
    empty-set corner cases, matches DuckDB exactly."""
    from duckdb_data_eng_proj_spark.etl.loan_pipeline import in_subquery_flag

    xs = ["a", "b", None, "c"]
    sets = {
        "plain": ["a", "x"],
        "with_null": ["a", None],
        "empty": [],
    }
    con = duckdb.connect()
    for name, keys in sets.items():
        df = spark.createDataFrame([(x,) for x in xs], "x: string")
        kdf = spark.createDataFrame(
            [(k,) for k in keys] or [], "k: string"
        )
        got = {
            r["x"]: r["__in_flag"]
            for r in in_subquery_flag(df, "x", kdf, "k").collect()
        }
        con.execute("DROP TABLE IF EXISTS ks")
        con.execute("CREATE TABLE ks (k VARCHAR)")
        for k in keys:
            con.execute("INSERT INTO ks VALUES (?)", [k])
        for x in xs:
            (want,) = con.execute(
                "SELECT ? IN (SELECT k FROM ks)", [x]
            ).fetchone()
            assert got[x] == want, (name, x, got[x], want)


def test_json_flag_text_identical(spark):
    """fn_json_map: to_json(map(...)) emits byte-identical text in both
    engines, including key order and NULL booleans (the flag-JSON
    columns depend on this)."""
    cases = [(True, False, None), (False, None, True), (None, None, None)]
    df = spark.createDataFrame(cases, "a: boolean, b: boolean, c: boolean")
    got = df.select(
        F.to_json(
            F.create_map(
                F.lit("k1"), F.col("a"), F.lit("k2"), F.col("b"), F.lit("k3"), F.col("c")
            )
        ).alias("j")
    ).collect()
    con = duckdb.connect()
    for (a, b, c), row in zip(cases, got):
        (want,) = con.execute(
            "SELECT to_json(map(['k1','k2','k3'], [?, ?, ?]))", [a, b, c]
        ).fetchone()
        assert row.j == want, ((a, b, c), row.j, want)


def test_exact_units_equals_round_cents(spark):
    """exact_units (arithmetic ±0.5-truncate) must equal the BigDecimal
    F.round spelling AND DuckDB's round() for every money column in the
    testdata, including adversarial hand cases (negatives, ulp-edges)."""
    from duckdb_data_eng_proj_spark.functions.scalars import exact_units

    hand = [(-1.005,), (-0.01,), (-0.0,), (0.0,), (0.01,), (1.005,),
            (149.99999999999997,), (900.68,), (-900.68,), (123456.78,)]
    df = spark.createDataFrame(hand, "v: double")
    rows = df.select(
        exact_units(F.col("v")).alias("fast"),
        F.round(F.col("v") * 100, 0).cast("long").alias("slow"),
    ).collect()
    con = duckdb.connect()
    for (v,), r in zip(hand, rows):
        assert r.fast == r.slow, (v, r.fast, r.slow)
        (want,) = con.execute(
            "SELECT CAST(round(? * 100, 0) AS BIGINT)", [v]
        ).fetchone()
        assert r.fast == want, (v, r.fast, want)
    # bulk: every testdata money column at sf0.001
    from tests.conftest import SF_DIR
    from duckdb_data_eng_proj_spark.queries.registry import t as load

    for tbl, col in [("orders", "o_totalprice"), ("lineitem", "l_extendedprice"),
                     ("lineitem", "l_quantity"), ("lineitem", "l_discount"),
                     ("customer", "c_acctbal")]:
        n = (
            load(spark, SF_DIR, tbl)
            .select(
                exact_units(F.col(col)).alias("fast"),
                F.round(F.col(col) * 100, 0).cast("long").alias("slow"),
            )
            .filter("fast <> slow OR (fast IS NULL) <> (slow IS NULL)")
            .count()
        )
        assert n == 0, (tbl, col, n)


def test_cc_cluster_is_component_min(spark):
    """dedup_cluster_cc law: every doc's cluster_id equals the min
    doc_id of its connected component (union-find ground truth over the
    verified pair edges), i.e. 3 unrolled iterations are a fixpoint on
    this data."""
    from duckdb_data_eng_proj_spark.queries.corpus import _near_dup_pairs
    from duckdb_data_eng_proj_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    pairs = [(r.doc_a, r.doc_b) for r in _near_dup_pairs(spark, SF_DIR, 0.05).collect()]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {x: find(x) for x in parent}
    for variant in ("dedup_cluster_cc", "dedup_cluster_cc_star"):
        got = {
            r.doc_id: r.cluster_id
            for r in REGISTRY[variant].fn(spark, SF_DIR).collect()
        }
        assert set(got) == set(want), variant
        mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
        assert not mismatches, (variant, dict(list(mismatches.items())[:5]))
    # non-trivial: at least one multi-member cluster exists on testdata
    assert any(v != k for k, v in want.items())

    # Crossover policy (VERDICT r4 #6): force label-prop to stop long
    # before convergence (1 round) so the star-fixpoint fallback runs
    # on the contracted label graph — the composed labels must equal
    # the same union-find ground truth. This is the path a deep graph
    # takes at 100 TB; test graphs never trigger it organically.
    from duckdb_data_eng_proj_spark.queries.corpus import _cluster_cc_crossover

    got = {
        r.doc_id: r.cluster_id
        for r in _cluster_cc_crossover(spark, SF_DIR, 1).collect()
    }
    assert got == want, "forced star crossover diverged from union-find"


def test_kmeans_converged_is_fixpoint(spark):
    """ml_kmeans_converged law: the loop runs ≥3 assignment-changing
    iterations on the fixture, and the returned state is a Lloyd
    fixpoint — one more assign step against the final centroids
    reproduces the final assignment exactly."""
    from duckdb_data_eng_proj_spark.queries.ml_iter import kmeans_converged_state
    from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
    from duckdb_data_eng_proj_spark.operators.vectors import assign as _assign, dot
    from duckdb_data_eng_proj_spark.queries.registry import t as load
    from tests.conftest import SF_DIR

    assign, cent, iters = kmeans_converged_state(spark, SF_DIR)
    assert iters >= 3, f"trivial trajectory: {iters} iterations"

    en = ensure_parallelism(load(spark, SF_DIR, "embeddings")).select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    again = _assign(en, cent).withColumnRenamed("cid", "cid2")
    moved = again.join(assign, "vec_id").filter(F.col("cid2") != F.col("cid")).count()
    assert moved == 0, f"{moved} vectors still move: not a fixpoint"
    # every vector is assigned, exactly once
    assert assign.count() == en.count()
    assert assign.select("vec_id").distinct().count() == en.count()


def test_ngram_df_cutoff_drops_hot_shingles(spark):
    """dedup_ngram_jaccard's stop-shingle guard: a cutoff below the
    fixture's max document frequency must shrink the candidate set
    (hot postings dropped before the pair join), while the production
    cutoff (far above any fixture DF) must be a no-op vs an unguarded
    index — the property that keeps the registered oracle green."""
    from duckdb_data_eng_proj_spark.queries.training import (
        MAX_SHINGLE_DF,
        _ngram_jaccard,
    )
    from tests.conftest import SF_DIR

    full = _ngram_jaccard(spark, SF_DIR, max_df=MAX_SHINGLE_DF).count()
    capped = _ngram_jaccard(spark, SF_DIR, max_df=2).count()
    assert capped < full, (capped, full)


def test_kmv_sketch_error_bound(spark):
    """KMV estimator law: for groups saturating k=64, the estimate is
    within the ~3-sigma relative-error band (3/sqrt(k-2) ~ 38%) of the
    exact distinct count; sub-k groups are exact by construction."""
    import pyspark.sql.functions as F

    from duckdb_data_eng_proj_spark.queries import REGISTRY
    from duckdb_data_eng_proj_spark.queries.registry import t
    from tests.conftest import SF_DIR

    est = {
        r["event_type"]: (r["k_eff"], r["est_distinct"])
        for r in REGISTRY["ext_sketch_kmv"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in t(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for etype, (k_eff, e) in est.items():
        x = exact[etype]
        if k_eff < 64:
            assert e == x, (etype, e, x)
        else:
            assert abs(e - x) / x < 0.38, (etype, e, x)
