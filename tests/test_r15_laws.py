"""Algorithmic laws for the round-15 operators.

Same adversarial posture as tests/test_r13_laws.py / test_r14_laws.py:
the oracle rows prove cross-engine equality; these tests prove the
shared definition is the RIGHT one, via independent pure-Python
replays and structural laws on sf0.001.

- evt_session_paths: full pure-Python replay (per-user (ts, event_id)
  sort -> 30-min-gap sessionize -> first-4 path prefix -> session and
  distinct-user counts -> (n DESC, path) top-10), plus structural
  laws (dense ranks; every path has 1-4 '>'-separated steps; n_users
  <= n_sessions).
- mm_image_resize: full pure-Python replay computed STRAIGHT FROM THE
  GRADIENT FORMULA (never calling the codec): resized pixel (x, y) =
  gradient(x*sw//16, y*sh//16), summed and dHashed on the 16x16 grid.
  Codec laws on the real byte path: resizing to the source dimensions
  is the BYTE-IDENTICAL no-op, and nearest-neighbor resize to a fixed
  grid is idempotent.
- graph_mst_boruvka: full pure-Python KRUSKAL replay (independent
  union-find over the weighted pair list, same lexicographic
  (w, doc_a, doc_b) order), the forest law |MST| = |V| - |components|
  (components from an independent union-find over ALL pairs), and the
  forced-rounds invariance law: Borůvka depth 0 (pure contracted
  Kruskal), 2 (shipped hybrid), and 8 (deep rounds) yield the
  identical edge set — dedup_cluster_cc's forced-crossover pattern.
"""

from __future__ import annotations

from duckdb_data_eng_proj_spark.queries import REGISTRY
from duckdb_data_eng_proj_spark.queries.extras_r15 import (
    _MST_THR,
    _PATH_DEPTH,
    _PATH_TOPK,
    _RS_SIDE,
    _SESSION_GAP_S,
)
from tests.conftest import SF_DIR

# ---------------------------------------------------------------------------
# evt_session_paths


def _py_session_paths(rows):
    """rows: (user_id, ts, event_id, event_type). Returns the top-k
    list of (path, n_sessions, n_users, rank)."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, ts, eid, et in rows:
        by_user[u].append((ts, eid, et))
    paths = []  # (user, path)
    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r[0], r[1]))
        sess: list[list[str]] = []
        prev_ts = None
        for ts, _eid, et in evs:
            if prev_ts is None or (ts - prev_ts).total_seconds() > _SESSION_GAP_S:
                sess.append([])
            sess[-1].append(et)
            prev_ts = ts
        for s in sess:
            paths.append((u, ">".join(s[:_PATH_DEPTH])))
    agg: dict[str, list] = {}
    for u, p in paths:
        if p not in agg:
            agg[p] = [0, set()]
        agg[p][0] += 1
        agg[p][1].add(u)
    ranked = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0]))
    return [
        (p, n, len(users), i + 1)
        for i, (p, (n, users)) in enumerate(ranked[:_PATH_TOPK])
    ]


def test_session_paths_python_replay(spark, oracle_con):
    rows = oracle_con.execute(
        "SELECT user_id, ts, event_id, event_type FROM events"
    ).fetchall()
    want = _py_session_paths(rows)
    got = sorted(
        (r.path, r.n_sessions, r.n_users, r.rank)
        for r in REGISTRY["evt_session_paths"].fn(spark, SF_DIR).collect()
    )
    assert got == sorted(want)


def test_session_paths_structural_laws(spark):
    rows = sorted(
        REGISTRY["evt_session_paths"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= _PATH_TOPK
    prev = None
    for r in rows:
        steps = r.path.split(">")
        assert 1 <= len(steps) <= _PATH_DEPTH, r
        assert all(steps), r
        assert 1 <= r.n_users <= r.n_sessions, r
        if prev is not None:  # rank order is (n DESC, path ASC)
            assert (prev.n_sessions, prev.path) >= (r.n_sessions, prev.path)
            assert prev.n_sessions >= r.n_sessions
        prev = r


# ---------------------------------------------------------------------------
# mm_image_resize


def _grad(seed: int, x: int, y: int) -> int:
    return (seed * 31 + x * 97 + y * 13) % 251


def _py_resize_row(doc_id: int):
    """Expected output row derived from the FORMULA alone — no codec."""
    n = _RS_SIDE
    seed = doc_id % 16
    w = seed % 4 + 8
    grid = [
        [_grad(seed, (x * w) // n, (y * w) // n) for x in range(n)]
        for y in range(n)
    ]
    pix_sum = sum(v for row in grid for v in row)
    out = 0
    for j in range(8):
        sy = (j * n) // 8
        for i in range(8):
            a = grid[sy][(i * n) // 9]
            b = grid[sy][((i + 1) * n) // 9]
            if a > b:
                bit = 1 << (j * 8 + i)
                out |= bit
    if out >= 1 << 63:
        out -= 1 << 64
    dst_bytes = 54 + (((n * 3 + 3) // 4) * 4) * n
    return (doc_id, w, w, n, n, dst_bytes, pix_sum, out)


def test_image_resize_python_replay(spark, oracle_con):
    ids = [r[0] for r in oracle_con.execute(
        "SELECT doc_id FROM documents"
    ).fetchall()]
    want = sorted(_py_resize_row(i) for i in ids)
    got = sorted(
        (r.doc_id, r.src_w, r.src_h, r.dst_w, r.dst_h, r.dst_bytes,
         r.pix_sum, r.dhash_rs)
        for r in REGISTRY["mm_image_resize"].fn(spark, SF_DIR).collect()
    )
    assert got == want


def test_resize_codec_laws():
    """Byte-path laws on the real codec (no Spark): same-dims resize
    is the identity on the BMP bytes, and fixed-grid resize is
    idempotent."""
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        encode_bmp_pattern,
        resize_bmp_nearest,
    )

    for seed in (0, 3, 7, 15):
        side = seed % 4 + 8
        src = encode_bmp_pattern(side, side, seed)
        assert resize_bmp_nearest(src, side, side) == src
        once = resize_bmp_nearest(src, _RS_SIDE, _RS_SIDE)
        assert resize_bmp_nearest(once, _RS_SIDE, _RS_SIDE) == once
        # non-square round trip exercises stride padding paths
        rect = resize_bmp_nearest(src, 5, 9)
        assert resize_bmp_nearest(rect, 5, 9) == rect


# ---------------------------------------------------------------------------
# graph_mst_boruvka


def _py_weighted_pairs(oracle_con):
    """Independent weighted pair list via the DuckDB prelude (the
    banding pipeline both engines already agree on) — weights
    recomputed HERE in Python from the raw shingle intersection
    counts, not read from either engine's weight column."""
    from duckdb_data_eng_proj_spark.queries.corpus import _PAIRS_SQL
    from duckdb_data_eng_proj_spark.queries.training import _LSH_PRELUDE

    rows = oracle_con.execute(
        f"{_LSH_PRELUDE}, {_PAIRS_SQL.format(thr=_MST_THR)} "
        "SELECT p.doc_a, p.doc_b, "
        "len(list_intersect(a.bg, b.bg)) AS li, "
        "len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)) AS un "
        "FROM ndpairs p JOIN bg a ON a.doc_id = p.doc_a "
        "JOIN bg b ON b.doc_id = p.doc_b"
    ).fetchall()
    return [(a, b, 1000 - (1000 * li) // un) for a, b, li, un in rows]


def _py_kruskal(pairs):
    parent: dict[int, int] = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    mst = []
    for a, b, w in sorted(pairs, key=lambda e: (e[2], e[0], e[1])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            mst.append((a, b, w))
    return sorted(mst)


def test_mst_python_kruskal_replay(spark, oracle_con):
    pairs = _py_weighted_pairs(oracle_con)
    want = _py_kruskal(pairs)
    got = sorted(
        (r.doc_a, r.doc_b, r.w_permille)
        for r in REGISTRY["graph_mst_boruvka"].fn(spark, SF_DIR).collect()
    )
    assert got == want


def test_mst_forest_law(spark, oracle_con):
    """|MSF| = |V| - |components| — component count from an
    independent union-find over ALL pairs, not from the operator."""
    pairs = _py_weighted_pairs(oracle_con)
    parent: dict[int, int] = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    verts = set()
    for a, b, _ in pairs:
        verts.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    n_comp = len({find(v) for v in verts})
    got = REGISTRY["graph_mst_boruvka"].fn(spark, SF_DIR).collect()
    assert len(got) == len(verts) - n_comp
    assert len({(r.doc_a, r.doc_b) for r in got}) == len(got)


def test_mst_forced_rounds_invariance(spark):
    """Hybrid depth must be output-invariant: 0 Borůvka rounds (pure
    contracted Kruskal), the shipped _MST_BORUVKA_ROUNDS (3), and 8
    (deep distributed rounds) — the same unique edge set."""
    from duckdb_data_eng_proj_spark.queries.extras_r15 import (
        _MST_BORUVKA_ROUNDS,
        _mst_boruvka_rounds,
    )

    outs = [
        sorted(
            (r.doc_a, r.doc_b, r.w_permille)
            for r in _mst_boruvka_rounds(spark, SF_DIR, k).collect()
        )
        for k in (0, _MST_BORUVKA_ROUNDS, 8)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) > 0


# ---------------------------------------------------------------------------
# mm_frame_sample (upgraded to the real Y4M path late in round 15)


def _py_frame_rows(doc_id: int):
    """Expected rows derived from the SYNTHESIS FORMULA alone — never
    calling the codec (the codec round-trip has its own laws in
    tests/test_codecs.py)."""
    w, h = 2 * (doc_id % 8 + 1), 2 * (doc_id % 6 + 1)
    nf = doc_id % 90 + 1
    header = len("YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h))
    n_bytes = header + nf * (6 + 3 * w * h // 2)
    return [
        (doc_id, w, h, nf, k, float((doc_id * 7 + 11 * k) % 256), n_bytes)
        for k in range(0, nf, 30)
    ]


def test_frame_sample_python_replay(spark, oracle_con):
    ids = [r[0] for r in oracle_con.execute(
        "SELECT doc_id FROM documents"
    ).fetchall()]
    want = sorted(row for i in ids for row in _py_frame_rows(i))
    got = sorted(
        (r.doc_id, r.width, r.height, r.n_frames, r.frame_idx, r.mean_y,
         r.n_bytes)
        for r in REGISTRY["mm_frame_sample"].fn(spark, SF_DIR).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# mm_audio_features (upgraded to the real varying-waveform DSP path
# late in round 15)


def _py_audio_row(doc_id: int):
    """Expected row derived from the SYNTHESIS FORMULA alone — never
    calling the codec (codec round-trip laws live in test_codecs.py)."""
    n = doc_id % 400 + 16
    seed = (doc_id * 131) % 65536
    s = [((seed + 97 * k) % 65536) - 32768 for k in range(n)]
    return (
        doc_id,
        8000,
        n,
        n * 1000 // 8000,
        sum(abs(v) for v in s),
        sum(1 for a, b in zip(s, s[1:]) if a * b < 0),
        (n + 1) // 2,
        sum(abs(v) for v in s[::2]),
        44 + 2 * n,
    )


def test_audio_dsp_python_replay(spark, oracle_con):
    ids = [r[0] for r in oracle_con.execute(
        "SELECT doc_id FROM documents"
    ).fetchall()]
    want = sorted(_py_audio_row(i) for i in ids)
    got = sorted(
        (r.doc_id, r.sample_rate, r.n_samples, r.duration_ms, r.sum_abs,
         r.n_zero_cross, r.rs_n, r.rs_sum_abs, r.n_bytes)
        for r in REGISTRY["mm_audio_features"].fn(spark, SF_DIR).collect()
    )
    assert got == want


def test_ptr_contract_sum_collision_regression(spark):
    """Round-15 review regression: a doubling can move pointers with a
    NET-ZERO sum change (here 7:9→5 = −4 while 6,3:7→9 = +2 each), so
    the old (count, sum) signature break kept unrooted labels, split
    the merged component, and re-emitted its bridging edge as a
    duplicate MST row. The exact p == p∘p check must drive every
    label to the root."""
    from duckdb_data_eng_proj_spark.operators.graph import (
        ptr_contract as _ptr_contract,
    )

    # Round-1 struct-min picks for edges (5,9,1),(6,7,6),(3,7,6),
    # (7,9,5): comps 5 and 9 choose each other (the 2-cycle), 7
    # chooses (7,9), 6 and 3 choose their edge to 7.
    pick = spark.createDataFrame(
        [(5, 5, 9), (9, 5, 9), (7, 7, 9), (6, 6, 7), (3, 3, 7)],
        "comp long, ca long, cb long",
    )
    roots = {r.lbl: r._root for r in _ptr_contract(pick).collect()}
    assert roots == {5: 5, 9: 5, 7: 5, 6: 5, 3: 5}


# ---------------------------------------------------------------------------
# pipe_modality_split single-scan rewrite (round-15 review)


def test_modality_split_composes_verified_ops(spark):
    """pipe_modality_split inlines txt_code_detect's gate and
    txt_fingerprint's prose key into ONE documents scan (the old form
    joined three corpus scans). This law pins the inlined expressions
    to the two source operators: for every doc, modality must follow
    is_code and dedup_key must equal the branch-appropriate key."""
    from duckdb_data_eng_proj_spark.queries import REGISTRY
    from duckdb_data_eng_proj_spark.queries.extras_r6b import txt_code_detect
    from duckdb_data_eng_proj_spark.queries.training import txt_fingerprint
    from pyspark.sql import functions as F

    split = {
        r.doc_id: (r.modality, r.dedup_key)
        for r in REGISTRY["pipe_modality_split"].fn(spark, SF_DIR).collect()
    }
    gate = {
        r.doc_id: r.is_code
        for r in txt_code_detect(spark, SF_DIR).collect()
    }
    fuzzy = {
        r.doc_id: r.fingerprint
        for r in txt_fingerprint(spark, SF_DIR).collect()
    }
    from duckdb_data_eng_proj_spark.queries.registry import t as _t

    exact = {
        r.doc_id: r.k
        for r in _t(spark, SF_DIR, "documents")
        .select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("k"))
        .collect()
    }
    assert split.keys() == gate.keys()
    for doc, (modality, key) in split.items():
        want_mod = "code" if gate[doc] else "prose"
        want_key = exact[doc] if gate[doc] else fuzzy[doc]
        assert (modality, key) == (want_mod, want_key), doc
