"""Round-16 law tests.

1. _star_fixpoint exit soundness (VERDICT r15 item 1): the exit is now
   signature-screen + EXACT no-change confirm, and the round cap
   raises instead of returning a truncated contraction. The laws here
   pin (a) that the returned edge set is a TRUE fixpoint (one more
   star round changes nothing — exactly the property the bare
   signature could not prove), (b) that the confirm predicate
   distinguishes signature-colliding edge sets, and (c) the loud cap
   failure.
2. Zero-norm centroid guard (VERDICT r15 item 2 / SURVEY queue 6d):
   on a fixture whose centroid seed set contains an all-zero vector,
   the admission/drift/repair family must produce HASH-IDENTICAL
   results on Spark and DuckDB — previously the NaN cosines made the
   engines break the argmax tie differently.
"""

from __future__ import annotations

import math
import os
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.queries import REGISTRY
from duckdb_data_eng_proj_spark.operators.graph import (
    large_star as _large_star,
    small_star as _small_star,
    star_fixpoint as _star_fixpoint,
)
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# _star_fixpoint exit soundness


def _rand_edges(seed: int, n_nodes: int, n_edges: int):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        u, v = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    return sorted(edges)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_star_fixpoint_result_is_true_fixpoint(spark, seed):
    """One more alternating star round over the returned edge set must
    change NOTHING — set-exactly, not signature-exactly. This is the
    property the old (count, Σu, Σv) exit assumed without proof."""
    edges = spark.createDataFrame(
        _rand_edges(seed, 40, 70), "u long, v long"
    ).localCheckpoint()
    fixed = _star_fixpoint(edges).localCheckpoint()
    again = _small_star(_large_star(fixed))
    assert again.exceptAll(fixed).isEmpty()
    assert fixed.exceptAll(again).isEmpty()
    # and the stars are rooted: every u is a component minimum, so no
    # u may appear as a member (v) of another star
    roots = {r.u for r in fixed.select("u").distinct().collect()}
    members = {r.v for r in fixed.select("v").distinct().collect()}
    assert not roots & members


def test_star_confirm_distinguishes_signature_collision(spark):
    """Two different edge sets with the IDENTICAL (count, Σu, Σv)
    signature — {(1,4),(2,3)} vs {(1,3),(2,4)} — must fail the exact
    confirm. Pins the exceptAll check that guards the exit; the bare
    signature break (the pre-r16 exit) called these equal, the exact
    bug class that produced duplicate MST edges in r15."""
    a = spark.createDataFrame([(1, 4), (2, 3)], "u long, v long")
    b = spark.createDataFrame([(1, 3), (2, 4)], "u long, v long")
    sig = lambda d: tuple(d.agg(F.count("*"), F.sum("u"), F.sum("v")).first())
    assert sig(a) == sig(b)
    assert not a.exceptAll(b).isEmpty()


def test_star_fixpoint_raises_on_cap_exhaustion(spark, monkeypatch):
    """A path graph cannot converge in one round; with the cap forced
    to 1 the helper must raise, never return a truncated (under-
    merged) contraction."""
    import duckdb_data_eng_proj_spark.operators.graph as graph

    monkeypatch.setattr(graph, "STAR_MAX_ROUNDS", 1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "u long, v long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _star_fixpoint(chain)


def test_star_components_match_union_find(spark):
    """End-to-end: star-fixpoint components equal union-find ground
    truth on random graphs (root = component minimum)."""
    for seed in (7, 8):
        raw = _rand_edges(seed, 60, 90)
        parent = list(range(60))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in raw:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        want = {}
        for u, v in raw:
            for n in (u, v):
                want[n] = find(n)

        fixed = _star_fixpoint(
            spark.createDataFrame(raw, "u long, v long").localCheckpoint()
        )
        got = dict(want)  # roots label themselves; members overwritten
        for n in got:
            got[n] = n
        for r in fixed.collect():
            got[r.v] = r.u
        # vertices that kept their own id must be true component minima
        assert got == want, f"seed {seed}"


# ---------------------------------------------------------------------------
# zero-norm centroid guard (admission / drift / repair family)


@pytest.fixture(scope="module")
def zero_norm_dir(tmp_path_factory):
    """A tiny embeddings fixture whose CENTROID SEED SET contains an
    all-zero vector: vec_id 1 (< _DRIFT_SEED_LIMIT, % 3 != 0) is the
    zero vector, so without the guard every cosine against it is NaN
    and the two engines disagree on the argmax tie-break."""
    d = tmp_path_factory.mktemp("zeronorm")
    rng = random.Random(42)
    rows = []
    # dim 64 — the drift/repair oracles hardcode range(64) in their
    # per-dim mean and displacement folds (the real table's width)
    for vid in range(60):
        if vid == 1:
            emb = [0.0] * 64
        else:
            emb = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        rows.append((vid, emb, vid % 10))
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(12)))
        for i in range(60)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[], label INT)"
    )
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)
    con.execute(
        f"COPY embeddings TO '{d}/embeddings.parquet' (FORMAT PARQUET)"
    )
    # a tiny documents table so txt_hybrid_rrf's lexical half runs too
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    con.execute(f"COPY documents TO '{d}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    return str(d)


def _norm_rows(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v:.9g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize(
    "qid",
    [
        # write/maintenance family (guarded first, r16)
        "sim_ann_ivf_admit",
        "sim_ann_index_drift",
        "sim_ann_ivf_repair",
        # read family (_ASSIGN_CTES consumers, guarded same round)
        "sim_ann_ivf",
        "sim_ann_ivf_search",
        "sim_ann_ivf_partitioned",
        "txt_hybrid_rrf",
        # r17 residue: kmeans assign + the brute-force _EMB_CTE pair
        # (vec_id 1 is a kmeans seed, an ext_sim_topk query, and a
        # dedup_embed_cosine label-1 member)
        "ml_kmeans_2iter",
        "ml_kmeans_converged",
        "ext_sim_topk",
        "dedup_embed_cosine",
    ],
)
def test_zero_norm_centroid_cross_engine(spark, zero_norm_dir, qid):
    """Spark fn and DuckDB oracle must agree value-exactly on the
    zero-vector fixture — the law the r15 review said a regen with a
    zero embedding would break. vec_id 1 is BOTH a centroid seed and a
    corpus vector, so the fixture exercises the centroid guard (NaN
    argmax tie) and the vector guard (ANSI divide-by-zero) at once."""
    spec = REGISTRY[qid]
    sdf = spec.fn(spark, zero_norm_dir)
    got = _norm_rows(
        tuple(r[c] for c in sorted(sdf.columns)) for r in sdf.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{zero_norm_dir}/embeddings.parquet')"
    )
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{zero_norm_dir}/documents.parquet')"
    )
    cur = con.execute(spec.oracle)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = _norm_rows(tuple(r[i] for i in order) for r in cur.fetchall())
    con.close()
    assert sorted(c for c in sdf.columns) == sorted(cols)
    assert got == want


# ---------------------------------------------------------------------------
# mm_audio_resample laws


def _py_resample_row(doc_id: int):
    """Expected row from the SYNTHESIS FORMULA alone — never calling
    the codec (codec round-trip laws below and in test_codecs.py)."""
    n = doc_id % 400 + 16
    seed = (doc_id * 131) % 65536
    u = [(seed + 97 * k) % 65536 for k in range(n)]
    m = ((n - 1) * 3) // 2 + 1
    total = 0
    for j in range(m):
        p = 2 * j
        i, r = p // 3, p % 3
        total += u[i] if r == 0 else (u[i] * (3 - r) + u[i + 1] * r) // 3
    return (doc_id, 8000, 12000, n, m, total, 44 + 2 * m)


def test_audio_resample_python_replay(spark, oracle_con):
    ids = [
        r[0]
        for r in oracle_con.execute("SELECT doc_id FROM documents").fetchall()
    ]
    want = sorted(_py_resample_row(i) for i in ids)
    got = sorted(
        (r.doc_id, r.src_rate, r.dst_rate, r.n_in, r.n_out, r.sum_u_out,
         r.rs_bytes)
        for r in REGISTRY["mm_audio_resample"].fn(spark, SF_DIR).collect()
    )
    assert got == want


def test_resample_identity_and_decimation_laws():
    """Codec-level laws: same-rate resample is the identity (every
    r = 0), and a 2:1 downsample equals decode_wav_dsp's decimation
    subsequence — the two ops' shared ground truth."""
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode_wav_dsp,
        encode_wav_wave,
        resample_wav_linear,
    )

    for doc_id in (0, 7, 123, 399):
        n = doc_id % 400 + 16
        seed = (doc_id * 131) % 65536
        payload = encode_wav_wave(n, seed)
        same = resample_wav_linear(payload, 8000)
        u_sum = sum((seed + 97 * k) % 65536 for k in range(n))
        assert (same["n_out"], same["sum_u_out"]) == (n, u_sum)
        half = resample_wav_linear(payload, 4000)
        dsp = decode_wav_dsp(payload, decimate=2)
        assert half["n_out"] == dsp["rs_n"]
        # decimation never interpolates: sum_u over s[::2] + shift
        assert half["sum_u_out"] == sum(
            ((seed + 97 * k) % 65536) for k in range(0, n, 2)
        )


def test_resample_rejects_unsupported_layouts():
    import io
    import struct
    import wave

    from duckdb_data_eng_proj_spark.operators.multimodal import (
        encode_wav_wave,
        resample_wav_linear,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:  # stereo — not the mono contract
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    with pytest.raises(ValueError, match="16-bit mono"):
        resample_wav_linear(buf.getvalue(), 12000)
    with pytest.raises(ValueError, match="at least 2"):
        resample_wav_linear(encode_wav_wave(1, 5), 12000)


# ---------------------------------------------------------------------------
# ts_downsample_lttb laws


def _lttb_frame(rows):
    import pandas as pd

    df = pd.DataFrame(
        rows, columns=["user_id", "ts", "event_id", "tl", "y"]
    )
    df["ts"] = pd.to_datetime(df["tl"], unit="s")
    return df


def test_lttb_passthrough_short_series():
    """Series with <= K points come back whole — the branch testdata
    never exercises (every user there has >= 49 events)."""
    from duckdb_data_eng_proj_spark.queries.extras_r16 import _lttb_pdf

    rows = [(1, None, k, 1000 + 60 * k, k * 10) for k in range(8)]
    out = _lttb_pdf(_lttb_frame(rows))
    assert len(out) == 8
    assert out["y_cents"].tolist() == [k * 10 for k in range(8)]


def test_lttb_structural_laws():
    """On a random 80-point series: exactly K points out; first and
    last kept; one pick per bucket; and EVERY pick maximizes the exact
    integer triangle score given the previous pick (ties to earliest)
    — an independent verifier, not a second implementation."""
    from duckdb_data_eng_proj_spark.queries.extras_r16 import (
        _LTTB_B,
        _LTTB_K,
        _lttb_pdf,
    )

    rng = random.Random(9)
    n = 80
    rows = [
        (7, None, k, 50_000 + 37 * k + rng.randrange(5), rng.randrange(10_000))
        for k in range(n)
    ]
    pdf = _lttb_frame(rows)
    out = _lttb_pdf(pdf)
    assert len(out) == _LTTB_K
    xs = [r[3] - rows[0][3] for r in rows]
    ys = [r[4] for r in rows]
    sel = [xs.index(int(t.timestamp()) - rows[0][3]) for t in out["ts"]]
    assert sel[0] == 0 and sel[-1] == n - 1
    nm = n - 2
    bucket = lambda idx: ((idx - 1) * _LTTB_B) // nm
    assert [bucket(i) for i in sel[1:-1]] == list(range(_LTTB_B))
    for b in range(_LTTB_B):
        a = sel[b]  # previous pick
        members = [i for i in range(1, n - 1) if bucket(i) == b]
        if b < _LTTB_B - 1:
            nxt = [i for i in range(1, n - 1) if bucket(i) == b + 1]
            c, sx, sy = len(nxt), sum(xs[i] for i in nxt), sum(ys[i] for i in nxt)
        else:
            c, sx, sy = 1, xs[n - 1], ys[n - 1]
        score = lambda i: abs(
            (xs[a] * c - sx) * (ys[i] - ys[a]) - (xs[a] - xs[i]) * (sy - ys[a] * c)
        )
        best = max(score(i) for i in members)
        winners = [i for i in members if score(i) == best]
        assert sel[b + 1] == winners[0], f"bucket {b}"


def test_lttb_order_invariance():
    """Input row order must not matter — the recursion sorts by
    (ts, event_id) itself."""
    from duckdb_data_eng_proj_spark.queries.extras_r16 import _lttb_pdf

    rng = random.Random(3)
    rows = [
        (4, None, k, 9_000 + 13 * k, rng.randrange(1_000)) for k in range(40)
    ]
    a = _lttb_pdf(_lttb_frame(rows))
    shuffled = rows[:]
    rng.shuffle(shuffled)
    b = _lttb_pdf(_lttb_frame(shuffled))
    assert a.values.tolist() == b.values.tolist()


@pytest.mark.parametrize(
    ("qid", "budget"),
    [
        # two narrow Arrow stages (synthesize + resample), no shuffle
        ("mm_audio_resample", 0),
        # ONE user-keyed exchange: the explicit-width repartition that
        # also satisfies applyInPandas' clustering requirement
        ("ts_downsample_lttb", 1),
    ],
)
def test_r16_op_exchange_budget(spark, qid, budget):
    from duckdb_data_eng_proj_spark.plans import count_exchanges

    df = REGISTRY[qid].fn(spark, SF_DIR)
    n = count_exchanges(df)
    assert n <= budget, f"{qid}: {n} exchanges > budget {budget}"


# ---------------------------------------------------------------------------
# NULL-bearing data vintage laws (the extras_r5 review's latent class)


@pytest.fixture(scope="module")
def null_vintage_dir(tmp_path_factory):
    """A data vintage the generator never produces: NULL text (an
    unfingerprintable doc in the incoming batch), NULL event ts (a
    user whose first-stage rows all lack timestamps), a NULL lang
    group that TIES the top named language on count, and NULL
    user_id / event_type series keys — each previously made Spark and
    DuckDB diverge."""
    d = tmp_path_factory.mktemp("nullvintage")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars INT)"
    )
    rng = random.Random(5)
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = []
    for i in range(30):
        if i in (6, 9):  # % 3 == 0 -> incoming batch, unfingerprintable
            text = None
        else:
            text = " ".join(rng.choice(words) for _ in range(8))
        # 5 docs NULL lang, 5 docs 'en' (the tie), rest 'de'/'fr'
        lang = (
            None if i < 5 else "en" if i < 10 else "de" if i < 20 else "fr"
        )
        rows.append((i, text, lang, f"src{i % 3}", len(text or "")))
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY documents TO '{d}/documents.parquet' (FORMAT PARQUET)")
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    ev = [
        # user 1: views with NULL ts only -> depth 1 (join presence)
        (1, None, 1, "view", 1.0, "{}"),
        (2, None, 1, "view", 1.0, "{}"),
        # user 2: a full funnel with real timestamps
        (3, "2024-01-01 10:00:00", 2, "view", 1.0, "{}"),
        (4, "2024-01-01 10:30:00", 2, "click", 1.0, "{}"),
        (5, "2024-01-01 11:00:00", 2, "purchase", 9.0, "{}"),
        # user 3: view then a click outside the 1-day window -> depth 1
        (6, "2024-01-01 10:00:00", 3, "view", 1.0, "{}"),
        (7, "2024-01-03 10:00:00", 3, "click", 1.0, "{}"),
    ]
    # user 4: 12 plottable points (> K=8, exercising the LTTB bucket
    # chain) interleaved with a NULL-ts and a NULL-value row — the
    # ADVICE r16 class: without the symmetric exclusion, pandas
    # NaN-poisons every triangle score while DuckDB's SUM skips NULLs
    # but COUNT(*) counts the row.
    ev += [
        (100 + k, f"2024-02-01 10:{k:02d}:00", 4, "view", float(7 + 3 * k), "{}")
        for k in range(12)
    ]
    ev += [
        (200, None, 4, "view", 5.0, "{}"),
        (201, "2024-02-01 10:30:00", 4, "view", None, "{}"),
    ]
    # a NULL-user_id series over 5 hours, and user 5's NULL-event_type
    # series of 5 rows with uneven hourly counts (2, 1, 0, 1, 1) whose
    # last hour holds only a NULL value: a NULL series key is no point
    # of any hourly series, and a bucket with no value has no cent sum,
    # on both engines
    ev += [
        (300 + k, f"2024-03-01 {8 + k:02d}:15:00", None, "click", float(2 + k), "{}")
        for k in range(5)
    ]
    ev += [
        (400 + k, f"2024-03-02 {hm}:00", 5, None, 3.0 * k if k < 4 else None, "{}")
        for k, hm in enumerate(["08:05", "08:45", "09:45", "11:45", "12:45"])
    ]
    # user 6: NULL-ts events of distinct values — a NULL-ts event is no
    # point of an hourly bucket (DuckDB's row_number windows over the
    # NULL derived bucket key pick another open/close than Spark's, and
    # not the same ones from run to run)
    ev += [
        (500 + k, None, 6, "view", v, "{}")
        for k, v in enumerate([23.9, 82.62, 41.5, 7.25, 60.1, 15.3])
    ]
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?, ?)", ev)
    con.execute(f"COPY events TO '{d}/events.parquet' (FORMAT PARQUET)")
    # orders with a NULL o_totalprice, a NULL o_orderstatus and a NULL
    # o_orderdate — the r17 NULLS-LAST sweep's rank keys
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_custkey BIGINT, "
        "o_orderstatus VARCHAR, o_totalprice DOUBLE, "
        "o_orderdate TIMESTAMP, o_orderpriority VARCHAR)"
    )
    od = [
        (1, 1, "O", 100.0, "2024-01-01 09:00:00", "1-URGENT"),
        (2, 1, "F", None, "2024-01-02 09:00:00", "1-URGENT"),
        (3, 2, None, 100.0, "2024-01-02 12:00:00", "1-URGENT"),
        (4, 2, "O", 250.0, None, "2-HIGH"),
        (5, 3, "F", 250.0, "2024-01-01 10:15:00", "2-HIGH"),
        (6, 3, "F", 300.0, "2024-01-04 00:00:00", "2-HIGH"),
    ]
    con.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)", od)
    con.execute(f"COPY orders TO '{d}/orders.parquet' (FORMAT PARQUET)")
    con.close()
    return str(d)


@pytest.mark.parametrize(
    "qid",
    [
        "etl_dedup_incremental",
        "ext_funnel_steps",
        "ext_dataset_card",
        "ts_downsample_lttb",
        # the hourly-series family: a NULL series key is not a point
        "ts_ewma",
        "ts_holt_linear",
        "ts_autocorr",
        "ts_gap_fill",
        "evt_anomaly_zscore",
        # r17 NULLS-LAST sweep: every pinned id driven on the NULL
        # vintage through BOTH engines
        "win_lead_lag_frames",
        "join_asof",
        "win_rank_suite",
        "etl_scd2",
        "win_moving_avg",
        "agg_mode",
        "evt_rfm_scores",
        "ts_anomaly_mad",
        "ts_changepoint_cusum",
        "ext_sketch_kmv_intersect",
        "win_gaps_islands",
        "win_percent_change",
        # r17 sessionize rule: NULL-ts events excluded on both engines
        "ext_sessionize",
        "evt_session_paths",
        # the hourly-series NULL rule on raw points
        "ts_resample_ohlc",
    ],
)
def test_null_vintage_cross_engine(spark, null_vintage_dir, qid):
    tables = ("documents", "events", "orders")
    _assert_cross_engine(spark, null_vintage_dir, tables, qid)


def _assert_cross_engine(spark, data_dir, tables, qid):
    spec = REGISTRY[qid]
    sdf = spec.fn(spark, data_dir)
    got = _norm_rows(
        tuple(r[c] for c in sorted(sdf.columns)) for r in sdf.collect()
    )
    con = duckdb.connect()
    for tbl in tables:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{tbl}.parquet')"
        )
    cur = con.execute(spec.oracle)
    cols = [dd[0] for dd in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = _norm_rows(tuple(r[i] for i in order) for r in cur.fetchall())
    con.close()
    assert got == want, f"{qid}: {got[:5]} vs {want[:5]}"


@pytest.fixture(scope="module")
def kmv_null_user_dir(tmp_path_factory):
    """sf0.01 events plus one NULL-user_id row per event type. Every
    type keeps its 150 users, so each KMV sketch fills all K slots and
    the NULL hash (md5 of a NULL key) competes for the top-K: it must
    rank last on both engines, never take a slot."""
    d = tmp_path_factory.mktemp("kmvnull")
    src = os.path.join(os.path.dirname(SF_DIR), "sf0.01", "events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{src}')")
    (fewest,) = con.execute(
        "SELECT min(n) FROM (SELECT COUNT(DISTINCT user_id) AS n "
        "FROM src GROUP BY event_type)"
    ).fetchone()
    assert fewest >= 64, fewest
    con.execute(
        "COPY (SELECT * FROM src UNION ALL "
        "SELECT (SELECT max(event_id) FROM src) + row_number() OVER "
        "(ORDER BY event_type), min(ts), NULL, event_type, NULL, NULL "
        f"FROM src GROUP BY event_type) TO '{d}/events.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return str(d)


@pytest.mark.parametrize("qid", ["ext_sketch_kmv", "ext_sketch_kmv_intersect"])
def test_kmv_null_user_cross_engine(spark, kmv_null_user_dir, qid):
    _assert_cross_engine(spark, kmv_null_user_dir, ("events",), qid)


# ---------------------------------------------------------------------------
# short-embedding vintage laws (the extras_r6 review's confirmed class)


@pytest.fixture(scope="module")
def short_emb_dir(tmp_path_factory):
    """An embeddings vintage with one 32-dim vector (vec_id 5, inside
    the centroid/query id ranges) and one zero-norm vector (vec_id 1):
    pre-r16, the unhardened hyperplane-signature copies ANSI-aborted
    on the short vector (confirmed live) and _pq_train's NULLS FIRST
    assignment flipped every affected sub-block."""
    d = tmp_path_factory.mktemp("shortemb")
    rng = random.Random(11)
    rows = []
    for vid in range(40):
        if vid == 5:
            emb = [round(rng.uniform(-1, 1), 3) for _ in range(32)]
        elif vid == 1:
            emb = [0.0] * 64
        else:
            emb = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        rows.append((vid, emb, vid % 10))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[], label INT)"
    )
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)
    con.execute(
        f"COPY embeddings TO '{d}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return str(d)


@pytest.mark.parametrize(
    "qid",
    [
        "sim_lsh_hyperplane",
        "sim_range_search",
        "sim_knn_bucket_join",
        "sim_ann_recall_eval",
        "vec_pq_codebook",
        "vec_pq_adc_search",
    ],
)
def test_short_embedding_cross_engine(spark, short_emb_dir, qid):
    spec = REGISTRY[qid]
    sdf = spec.fn(spark, short_emb_dir)
    got = _norm_rows(
        tuple(r[c] for c in sorted(sdf.columns)) for r in sdf.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{short_emb_dir}/embeddings.parquet')"
    )
    cur = con.execute(spec.oracle)
    cols = [dd[0] for dd in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = _norm_rows(tuple(r[i] for i in order) for r in cur.fetchall())
    con.close()
    assert got == want, f"{qid}: {got[:4]} vs {want[:4]}"
