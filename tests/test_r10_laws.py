"""Algorithmic laws for the round-9/round-10 operators.

The oracle rows prove cross-engine equality; these tests prove the
shared definition is the RIGHT one — each operator's output is checked
against an independent pure-Python reimplementation (or a published
invariant) on the sf0.001 tables, the same adversarial posture as
tests/test_r8_laws.py:

- txt_longest_common_substring: the gaps-and-islands diagonal-run
  trick equals textbook O(n·m) dynamic programming on random pairs.
- ml_gbdt_round: the integer AdaBoost reweight equalizes correct and
  misclassified mass to within one truncation unit.
- agg_sketch_hll: registers reproduce an independent md5 replay
  exactly, and the estimate lands within published HLL error.
- agg_bloom_filter: zero false negatives (a Bloom filter's one hard
  guarantee), and the bit state reproduces an md5 replay.
- graph_pagerank: exact replay of the 3-round integer recursion over
  the operator's own edge set.
- ts_anomaly_mad: med2/mad4 equal 2·median / 4·MAD computed by
  statistics.median per user.
"""

from __future__ import annotations

import hashlib
import random
import statistics
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from duckdb_data_eng_proj_spark.operators.sketches import hex_int, hex_int_sql, md5_int_py
from duckdb_data_eng_proj_spark.queries import REGISTRY
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# txt_longest_common_substring — diagonal-run identity vs textbook DP


def _lcs_dp(a: list, b: list) -> int:
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def _lcs_diagonal(a: list, b: list) -> int:
    # the operator's formulation: longest run of consecutive ia along
    # one diagonal (ia - jb) of the position-match relation
    runs: dict = defaultdict(list)
    for ia, x in enumerate(a):
        for jb, y in enumerate(b):
            if x == y:
                runs[ia - jb].append(ia)
    best = 0
    for ias in runs.values():  # every list is non-empty by construction
        ias.sort()
        streak = 1
        best = max(best, 1)
        for p, nxt in zip(ias, ias[1:]):
            streak = streak + 1 if nxt == p + 1 else 1
            best = max(best, streak)
    return best


def test_lcs_diagonal_equals_dp():
    rng = random.Random(10)
    vocab = list("abcdef")
    for _ in range(300):
        a = [rng.choice(vocab) for _ in range(rng.randint(0, 18))]
        b = [rng.choice(vocab) for _ in range(rng.randint(0, 18))]
        assert _lcs_diagonal(a, b) == _lcs_dp(a, b), (a, b)


def test_lcs_trigram_run_identity():
    # The shipped operator computes LCS as (max diagonal run of TRIGRAM
    # position-matches) + 2 — exact for LCS >= 3, because a common
    # substring of n tokens is exactly n-2 consecutive shared trigrams
    # on one diagonal. Pin the identity against textbook DP wherever
    # DP >= 3 (below 3 the operator's qualifying filter drops the pair).
    rng = random.Random(11)
    vocab = list("abcd")
    checked = 0
    for _ in range(500):
        a = [rng.choice(vocab) for _ in range(rng.randint(3, 16))]
        b = [rng.choice(vocab) for _ in range(rng.randint(3, 16))]
        dp = _lcs_dp(a, b)
        ta = [" ".join(a[i:i + 3]) for i in range(len(a) - 2)]
        tb = [" ".join(b[i:i + 3]) for i in range(len(b) - 2)]
        tri_run = _lcs_diagonal(ta, tb)
        if dp >= 3:
            checked += 1
            assert tri_run + 2 == dp, (a, b, dp, tri_run)
        else:
            assert tri_run == 0, (a, b)
    assert checked > 50  # the vocab is small enough that LCS >= 3 is common


# ---------------------------------------------------------------------------
# ml_gbdt_round — AdaBoost mass equalization within truncation


def test_gbdt_reweight_equalizes_mass(spark, oracle_con):
    rows = REGISTRY["ml_gbdt_round"].fn(spark, SF_DIR).collect()
    assert rows
    n = oracle_con.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
    r = rows[0]
    n_corr = n - r["n_err1"]
    if r["n_err1"] > 0:
        # w_wrong = (n_corr·1000) // n_err ⇒ misclassified mass is
        # within one truncation quantum (< n_err) of the correct mass
        wrong_mass = r["w_wrong"] * r["n_err1"]
        corr_mass = 1000 * n_corr
        assert 0 <= corr_mass - wrong_mass < r["n_err1"]
    # split_rank is a permutation and the boosted stump is rank 1
    ranks = sorted(row["split_rank"] for row in rows)
    assert ranks == list(range(1, len(rows) + 1))


# ---------------------------------------------------------------------------
# agg_sketch_hll — md5 replay + published error bound


def test_hll_registers_replay_and_error_bound(spark, oracle_con):
    out = REGISTRY["agg_sketch_hll"].fn(spark, SF_DIR).collect()
    assert len(out) == 64
    toks = oracle_con.execute(
        "SELECT DISTINCT unnest(list_filter(string_split_regex("
        "lower(trim(text)), '\\s+'), x -> x <> '')) FROM documents"
    ).fetchall()
    reg = [0] * 64
    for (tok,) in toks:
        hv = int(hashlib.md5(f"hll-v1:{tok}".encode()).hexdigest()[:15], 16)
        rest = hv // 64
        rho = 55 if rest == 0 else 55 - rest.bit_length()
        b = hv % 64
        reg[b] = max(reg[b], rho)
    got = {r["bucket"]: r["rho_max"] for r in out}
    assert got == {b: reg[b] for b in range(64)}
    true_distinct = out[0]["true_distinct"]
    assert true_distinct == len(toks)
    # 1.04/sqrt(64) = 13% standard error; 3σ gate
    assert abs(out[0]["err_pml"]) < 390


# ---------------------------------------------------------------------------
# agg_bloom_filter — no false negatives, exact bit replay


def test_bloom_no_false_negatives_and_bit_replay(spark, oracle_con):
    out = REGISTRY["agg_bloom_filter"].fn(spark, SF_DIR).collect()
    assert out
    for r in out:
        if r["is_member"]:
            assert r["in_bloom"] == 1, r  # the Bloom guarantee
        assert r["is_false_positive"] == int(bool(r["in_bloom"]) and not r["is_member"])
    members = oracle_con.execute(
        "SELECT DISTINCT p_brand, CAST(p_size AS VARCHAR) FROM part"
    ).fetchall()
    bits = defaultdict(set)
    for brand, sz in members:
        for j in range(3):
            pos = int(hashlib.md5(f"bloom-{j}:{sz}".encode()).hexdigest()[:8], 16) % 512
            bits[brand].add(pos)
    for r in out:
        assert r["bits_set"] == len(bits[r["p_brand"]])


# ---------------------------------------------------------------------------
# graph_pagerank — exact integer replay over the operator's edge set


def test_pagerank_replays_integer_recursion(spark):
    from duckdb_data_eng_proj_spark.queries.training import _lsh_bands_df

    bands = _lsh_bands_df(spark, SF_DIR).collect()
    buckets = defaultdict(list)
    for r in bands:
        if r["bucket"] is not None:
            buckets[(r["band"], r["bucket"])].append(r["doc_id"])
    edges = set()
    for docs in buckets.values():
        docs = sorted(set(docs))
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                edges.add((a, b))
                edges.add((b, a))
    out_n = defaultdict(list)
    deg = Counter(src for src, _ in edges)
    for src, dst in edges:
        out_n[src].append(dst)
    pr = {v: 1_000_000 for v in deg}
    for _ in range(3):
        recv = defaultdict(int)
        for u, nbrs in out_n.items():
            share = pr[u] // deg[u]
            for v in nbrs:
                recv[v] += share
        pr = {v: 150_000 + (85 * s) // 100 for v, s in recv.items()}
    got = {
        r["doc_id"]: r["pr_u"]
        for r in REGISTRY["graph_pagerank"].fn(spark, SF_DIR).collect()
    }
    assert got == pr
    assert all(v > 0 for v in got.values())


# ---------------------------------------------------------------------------
# ts_anomaly_mad — 2·median / 4·MAD replay


def test_mad_matches_statistics_median(spark):
    rows = REGISTRY["ts_anomaly_mad"].fn(spark, SF_DIR).collect()
    assert rows
    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r)
    for user, rs in per_user.items():
        vals = [r["v_c100"] for r in rs]
        med2 = rs[0]["med2"]
        assert med2 == int(2 * statistics.median(vals)), user
        devs = [abs(2 * v - med2) for v in vals]
        assert rs[0]["mad4"] == int(2 * statistics.median(devs)), user
        for r in rs:
            assert r["med2"] == med2 and r["mad4"] == rs[0]["mad4"]
            expect_flag = int(2 * abs(2 * r["v_c100"] - med2) > 3 * r["mad4"])
            assert r["is_anomaly"] == expect_flag


# ---------------------------------------------------------------------------
# cross-engine primitive sweeps for the r10 operator surface


def test_week_trunc_and_interval_agree_across_engines(spark, oracle_con):
    # Cross-engine contracts for calendar primitives the event ops
    # lean on (ext_funnel_steps' conversion window, evt_cohort_retention's
    # day buckets, and any future week-grained cohort op): week
    # truncation (Monday alignment) and fixed-interval addition must
    # agree on arbitrary instants, including year boundaries and
    # ISO-week edge days (Jan 1 falling mid-week, leap days).
    import datetime as dt

    rng = random.Random(12)
    stamps = [
        dt.datetime(2000, 1, 1) + dt.timedelta(seconds=rng.randrange(0, 60 * 365 * 86400))
        for _ in range(300)
    ]
    stamps += [
        dt.datetime(y, m, d, h)
        for y in (1999, 2000, 2020, 2024)
        for m, d in ((1, 1), (12, 31), (2, 28), (3, 1))
        for h in (0, 23)
    ]
    duck = oracle_con.execute(
        "SELECT date_trunc('week', t), t + INTERVAL 24 HOUR "
        "FROM (SELECT unnest(?::TIMESTAMP[]) AS t)",
        [stamps],
    ).fetchall()
    sdf = spark.createDataFrame([(s,) for s in stamps], "t timestamp")
    got = sdf.select(
        F.date_trunc("week", "t"), F.expr("t + INTERVAL 24 HOURS")
    ).collect()
    for s, (dw, di), row in zip(stamps, duck, got):
        # DuckDB date_trunc('week', TIMESTAMP) narrows to DATE; the
        # operator CASTs back to TIMESTAMP, so compare the instant
        # (midnight) — the value is what both engines must agree on.
        if isinstance(dw, dt.date) and not isinstance(dw, dt.datetime):
            dw = dt.datetime(dw.year, dw.month, dw.day)
        assert row[0].replace(tzinfo=None) == dw, (s, dw, row[0])
        assert row[1].replace(tzinfo=None) == di, (s, di, row[1])
        assert row[0].weekday() == 0  # Monday alignment on both


_HEX_WINDOWS = [(1, 1), (1, 4), (5, 4), (1, 8), (1, 15), (17, 15)]


def test_hex_parse_agrees_across_engines(spark, oracle_con):
    # Every md5-derived integer (sketch slots, HLL registers, MinHash
    # pairs, simhash nibbles and chunks, split buckets) reads a hex
    # window through operators/sketches.hex_int / hex_int_sql. Sweep
    # 32-digit hex strings (an md5 digest's shape) through each window
    # width and offset in use, including all-f and all-0 extremes (15
    # hex digits = 60 bits, no sign risk), on both engines; the type
    # is INT up to 7 digits, BIGINT from 8, and 16+ is refused. The
    # pure-Python twin md5_int_py reads the same windows of the md5
    # digests in the sweep.
    rng = random.Random(13)
    hexes = ["f" * 32, "0" * 32, "8" + "0" * 31, "7" + "f" * 31]
    hexes += ["%032x" % rng.randrange(0, 2**128) for _ in range(200)]
    words = [f"doc{i}" for i in range(100)]
    hexes += [hashlib.md5(w.encode()).hexdigest() for w in words]
    expect = [
        tuple(int(h[s - 1 : s - 1 + n], 16) for s, n in _HEX_WINDOWS) for h in hexes
    ]
    cols = ", ".join(hex_int_sql("h", s, n) for s, n in _HEX_WINDOWS)
    cur = oracle_con.execute(
        f"SELECT h, {cols} FROM (SELECT unnest(?) AS h)", [hexes]
    )
    duck = {r[0]: tuple(r[1:]) for r in cur.fetchall()}
    sdf = spark.createDataFrame([(h,) for h in hexes], "h string").select(
        "h", *[hex_int(F.col("h"), s, n) for s, n in _HEX_WINDOWS]
    )
    got = {r[0]: tuple(r[1:]) for r in sdf.collect()}
    assert [duck[h] for h in hexes] == expect
    assert [got[h] for h in hexes] == expect
    py = [tuple(md5_int_py(w, s, n) for s, n in _HEX_WINDOWS) for w in words]
    assert py == expect[-len(words):]
    want_int = [n <= 7 for _, n in _HEX_WINDOWS]
    duck_types = oracle_con.execute(
        "SELECT "
        + ", ".join(f"typeof({hex_int_sql('h', s, n)})" for s, n in _HEX_WINDOWS)
        + f" FROM (SELECT '{hexes[0]}' AS h)"
    ).fetchone()
    assert list(duck_types) == ["INTEGER" if w else "BIGINT" for w in want_int]
    spark_types = [f.dataType for f in sdf.schema.fields[1:]]
    assert spark_types == [IntegerType() if w else LongType() for w in want_int]
    for n in (0, 16):
        with pytest.raises(ValueError):
            hex_int_sql("h", 1, n)
        with pytest.raises(ValueError):
            hex_int(F.col("h"), 1, n)
        with pytest.raises(ValueError):
            md5_int_py("x", 1, n)


# ---------------------------------------------------------------------------
# txt_zipf_fit — slope/r² sanity + exact replay of the closed form


def test_zipf_fit_replays_closed_form(spark, oracle_con):
    rows = REGISTRY["txt_zipf_fit"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    counts = oracle_con.execute(
        "SELECT COUNT(*) AS c FROM (SELECT unnest(list_filter("
        "string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) "
        "AS token FROM documents) GROUP BY token ORDER BY c DESC, token"
    ).fetchall()
    assert r["n_vocab"] == len(counts)
    # counts are rank-sorted desc, so rank i+1 pairs with counts[i]
    xs = [round(__import__("math").log(i + 1) * 1e6) for i in range(len(counts))]
    ys = [round(__import__("math").log(c[0]) * 1e6) for c in counts]
    n = float(len(xs))
    sx, sy = float(sum(xs)), float(sum(ys))
    sxy = float(sum(x * y for x, y in zip(xs, ys)))
    sxx = float(sum(x * x for x in xs))
    syy = float(sum(y * y for y in ys))
    numer, denx, deny = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
    slope = numer / denx
    assert r["slope_ppm"] == round(slope * 1e6)
    assert r["intercept_u"] == round((sy - slope * sx) / n)
    assert r["r2_pml"] == round(numer * numer / (denx * deny) * 1000)
    assert r["slope_ppm"] <= 0  # frequency never increases with rank
    assert 0 <= r["r2_pml"] <= 1000


# ---------------------------------------------------------------------------
# ts_changepoint_cusum — the prefix closed form equals the textbook
# reset-at-zero recursion


def test_cusum_closed_form_replays_recursion(spark):
    rows = REGISTRY["ts_changepoint_cusum"].fn(spark, SF_DIR).collect()
    assert rows
    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r)
    flagged = 0
    for user, rs in per_user.items():
        rs.sort(key=lambda r: r["bucket_ts"])
        vals = [r["v_c100"] for r in rs]
        n = len(vals)
        sv = sum(vals)
        mu = abs(sv) // n * (1 if sv >= 0 else -1)  # trunc toward zero
        k = max(1, abs(mu) // 10)
        sp = sn = 0
        for v, r in zip(vals, rs):
            sp = max(0, sp + (v - mu - k))
            sn = max(0, sn - (v - mu + k))
            assert r["s_pos"] == sp, (user, r)
            assert r["s_neg"] == sn, (user, r)
            expect_flag = int(sp > 5 * k or sn > 5 * k)
            assert r["drift_flag"] == expect_flag, (user, r)
            flagged += expect_flag
    # the detector must neither be silent nor fire everywhere
    total = sum(len(v) for v in per_user.values())
    assert 0 < flagged < total


# ---------------------------------------------------------------------------
# graph_jaccard_neighbors — Python replay over the operator's own graph


def test_neighbor_jaccard_replay(spark):
    from duckdb_data_eng_proj_spark.queries.training import _lsh_bands_df

    bands = _lsh_bands_df(spark, SF_DIR).collect()
    buckets = defaultdict(set)
    for r in bands:
        if r["bucket"] is not None:
            buckets[(r["band"], r["bucket"])].add(r["doc_id"])
    cand = set()
    nbrs = defaultdict(set)
    for docs in buckets.values():
        docs = sorted(docs)
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                cand.add((a, b))
                nbrs[a].add(b)
                nbrs[b].add(a)
    out = REGISTRY["graph_jaccard_neighbors"].fn(spark, SF_DIR).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} == cand
    for r in out:
        a, b = r["doc_a"], r["doc_b"]
        inter = len(nbrs[a] & nbrs[b])
        union = len(nbrs[a] | nbrs[b])
        assert r["n_common"] == inter, (a, b)
        assert r["n_union"] == union, (a, b)
        assert r["jacc_pml"] == (inter * 1000) // union, (a, b)
