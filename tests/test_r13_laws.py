"""Algorithmic laws for the round-13 operators.

Same adversarial posture as tests/test_r12*_laws.py: the oracle rows
prove cross-engine equality; these tests prove the shared definition
is the RIGHT one, via independent pure-Python replays and structural
laws on sf0.001.

- txt_bpe_apply: full pure-Python replay (whitespace tokenize ->
  word-frequency vocab -> 3 rounds of weighted adjacent-pair argmax +
  greedy left-to-right non-overlapping merge), plus the EXACT
  conservation law tokens_after[r] = tokens_after[r-1] - pair_freq[r]
  (each merge removes exactly one symbol per application) and the BPE
  monotonicity law pair_freq[r] <= pair_freq[r-1].
- txt_hybrid_rrf: full pure-Python replay of BOTH halves (IVF probe
  search with sequential-fold cosine, distinct-token-overlap ranking)
  and the integer RRF fusion, plus the self-consistency law
  rrf_u = term(sem_rk) + term(lex_rk) recomputed from the output's
  own rank columns, and dense per-query ranks.
- ext_stream_dedup_admit: full pure-Python replay of the admission
  (MinHash K-M double hashing, 4x2 banding, bigram-Jaccard verify,
  corpus-first then same-parity intra-batch greedy min rule), plus
  verdict-shape laws (partner parity/ordering per verdict class).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from collections import Counter, defaultdict

from duckdb_data_eng_proj_spark.queries import REGISTRY
from duckdb_data_eng_proj_spark.queries.extras_r11 import _INC_JACCARD
from duckdb_data_eng_proj_spark.queries.extras_r13 import (
    _BPE_ROUNDS,
    _RRF_K,
    _RRF_LIST_K,
    _RRF_NQ,
    _RRF_OUT_K,
)
from tests.conftest import SF_DIR


def _py_tokens(text):
    if text is None:
        return []
    return [w for w in re.split(r"\s+", text.lower().strip()) if w != ""]


# ---------------------------------------------------------------------------
# txt_bpe_apply


def _bpe_merge_word(syms, a, b):
    """Greedy left-to-right non-overlapping merge — the fold's law."""
    out = []
    for x in syms:
        if x == b and out and out[-1] == a:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _bpe_replay(oracle_con):
    docs = oracle_con.execute("SELECT text FROM documents").fetchall()
    vocab = Counter()
    for (tx,) in docs:
        for w in _py_tokens(tx):
            if "\x1f" not in w:
                vocab[w] += 1
    state = {w: list(w) for w in vocab}
    rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        pf = Counter()
        for w, syms in state.items():
            c = vocab[w]
            for x, y in zip(syms, syms[1:]):
                pf[(x, y)] += c
        (a, b), f = min(pf.items(), key=lambda kv: (-kv[1], kv[0]))
        state = {w: _bpe_merge_word(s, a, b) for w, s in state.items()}
        toks = sum(vocab[w] * len(s) for w, s in state.items())
        rows.append((r, a, b, f, toks))
    return rows


def test_bpe_python_replay(spark, oracle_con):
    got = sorted(
        (r.round, r.sym_a, r.sym_b, r.pair_freq, r.tokens_after)
        for r in REGISTRY["txt_bpe_apply"].fn(spark, SF_DIR).collect()
    )
    assert got == _bpe_replay(oracle_con)


def test_bpe_conservation_and_monotonicity(spark, oracle_con):
    rows = sorted(
        REGISTRY["txt_bpe_apply"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == list(range(1, _BPE_ROUNDS + 1))
    # tokens before any merge = total character count of the corpus
    # words (whitespace-tokenized, weighted by occurrence)
    (chars0,) = oracle_con.execute(
        "SELECT CAST(SUM(len(u.w)) AS BIGINT) FROM "
        "(SELECT unnest(list_filter(string_split_regex(lower(trim(text)),"
        " '\\s+'), x -> x <> '')) AS w FROM documents) u"
    ).fetchone()
    prev = chars0
    prev_f = None
    for r in rows:
        # Conservation: each merge replaces 2 symbols with 1, so one
        # round removes AT MOST pair_freq occurrences; fewer only when
        # the argmax pair self-overlaps (sym_a == sym_b inside an odd
        # run, e.g. 'aaa' with merge (a,a): pair_freq 2, removes 1).
        # Exact equality is a THEOREM whenever sym_a != sym_b —
        # occurrences of (a,b) with a != b cannot overlap — and only a
        # data-dependent pin otherwise (ADVICE r13).
        assert prev - r.pair_freq <= r.tokens_after < prev, r
        if r.sym_a != r.sym_b:
            assert r.tokens_after == prev - r.pair_freq, r
        prev = r.tokens_after
        # classic BPE monotonicity: a merge can only destroy
        # adjacencies, and pairs involving the new symbol occur at
        # most pair_freq times — so the argmax never increases.
        if prev_f is not None:
            assert r.pair_freq <= prev_f, r
        prev_f = r.pair_freq
        assert r.sym_a and r.sym_b and r.pair_freq > 0


# ---------------------------------------------------------------------------
# txt_hybrid_rrf


def _fold_dot(a, b):
    """Sequential left fold — the engines' list_reduce/F.aggregate
    order, so doubles are bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _rrf_replay(oracle_con):
    vecs = {
        v: e
        for v, e in oracle_con.execute(
            "SELECT vec_id, embedding FROM embeddings"
        ).fetchall()
    }
    nrm = {v: math.sqrt(_fold_dot(e, e)) for v, e in vecs.items()}
    cents = [v for v in sorted(vecs) if v < 16]

    def cos(u, w):
        return _fold_dot(vecs[u], vecs[w]) / (nrm[u] * nrm[w])

    # corpus assignment: argmax cosine, tie -> lower centroid_id
    assign = {}
    for v in vecs:
        best = min(((-cos(v, c), c) for c in cents))
        assign[v] = best[1]
    lists = defaultdict(list)
    for v, c in assign.items():
        lists[c].append(v)

    sem = {}
    queries = [v for v in sorted(vecs) if v < _RRF_NQ]
    for q in queries:
        probes = [c for _, c in sorted((-cos(q, c), c) for c in cents)[:4]]
        cand = {v for c in probes for v in lists[c] if v != q}
        ranked = sorted(((-cos(q, v), v) for v in cand))
        for rk, (_, v) in enumerate(ranked[:_RRF_LIST_K], 1):
            sem[(q, v)] = rk

    docs = oracle_con.execute("SELECT doc_id, text FROM documents").fetchall()
    tok = {d: set(_py_tokens(tx)) for d, tx in docs}
    lex = {}
    for q in queries:
        shared = [
            (-len(tok[q] & tok[d]), d)
            for d in tok
            if d != q and tok[q] & tok[d]
        ]
        for rk, (_, d) in enumerate(sorted(shared)[:_RRF_LIST_K], 1):
            lex[(q, d)] = rk

    def term(rk):
        return 1000000 // (_RRF_K + rk) if rk else 0

    out = {}
    for q in queries:
        items = {d for (qq, d) in list(sem) + list(lex) if qq == q}
        fused = sorted(
            (
                -(term(sem.get((q, d), 0)) + term(lex.get((q, d), 0))),
                d,
            )
            for d in items
        )
        for rank, (neg_u, d) in enumerate(fused[:_RRF_OUT_K], 1):
            out[(q, d)] = (
                sem.get((q, d), 0),
                lex.get((q, d), 0),
                -neg_u,
                rank,
            )
    return out


def test_rrf_python_replay(spark, oracle_con):
    got = {
        (r.query_id, r.doc_id): (r.sem_rk, r.lex_rk, r.rrf_u, r.rank)
        for r in REGISTRY["txt_hybrid_rrf"].fn(spark, SF_DIR).collect()
    }
    assert got == _rrf_replay(oracle_con)


def test_rrf_self_consistency(spark):
    rows = REGISTRY["txt_hybrid_rrf"].fn(spark, SF_DIR).collect()
    assert rows
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
        # fused score recomputable from the output's own rank columns
        want = (1000000 // (_RRF_K + r.sem_rk) if r.sem_rk else 0) + (
            1000000 // (_RRF_K + r.lex_rk) if r.lex_rk else 0
        )
        assert r.rrf_u == want, r
        assert 0 <= r.sem_rk <= _RRF_LIST_K
        assert 0 <= r.lex_rk <= _RRF_LIST_K
        assert r.sem_rk or r.lex_rk, "item in neither list"
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _RRF_OUT_K
        for a, b in zip(rs, rs[1:]):
            assert (-a.rrf_u, a.doc_id) < (-b.rrf_u, b.doc_id)


# ---------------------------------------------------------------------------
# ext_stream_dedup_admit

_P61 = (1 << 61) - 1


def _py_bigrams(text):
    tk = _py_tokens(text)
    if len(tk) < 2:
        return set()
    return {f"{a} {b}" for a, b in zip(tk, tk[1:])}


def _py_bands(bg):
    """MinHash 8-sig via K-M double hashing, 4 bands x 2 rows —
    mirrors operators/textops.py exactly."""
    if not bg:
        return []
    pairs = []
    for s in bg:
        h = hashlib.md5(s.encode()).hexdigest()
        pairs.append((int(h[0:15], 16), int(h[16:31], 16) | 1))
    sig = [min((a + j * b) % _P61 for a, b in pairs) for j in range(8)]
    return [
        (b, hashlib.md5(f"{sig[2 * b]}|{sig[2 * b + 1]}".encode()).hexdigest())
        for b in range(4)
    ]


def _admit_replay(oracle_con):
    docs = oracle_con.execute("SELECT doc_id, text FROM documents").fetchall()
    bg = {d: _py_bigrams(tx) for d, tx in docs}
    bands = {d: _py_bands(s) for d, s in bg.items()}
    idx = defaultdict(set)  # (band, bucket) -> corpus doc_ids
    for d, bs in bands.items():
        if d % 3 != 0:
            for key in bs:
                idx[key].add(d)

    def jac(a, b):
        inter = len(bg[a] & bg[b])
        union = len(bg[a]) + len(bg[b]) - inter
        return inter / union if union else 0.0

    out = {}
    new_ids = [d for d, _ in docs if d % 3 == 0]
    new_bands = defaultdict(set)  # (band,bucket) -> new ids
    for d in new_ids:
        for key in bands[d]:
            new_bands[key].add(d)
    for d in new_ids:
        corpus_cand = {o for key in bands[d] for o in idx[key]}
        pc = [o for o in corpus_cand if jac(d, o) >= _INC_JACCARD]
        batch_cand = {
            o
            for key in bands[d]
            for o in new_bands[key]
            if o < d and o % 2 == d % 2
        }
        pb = [o for o in batch_cand if jac(d, o) >= _INC_JACCARD]
        if pc:
            out[d] = ("dup_corpus", min(pc))
        elif pb:
            out[d] = ("dup_batch", min(pb))
        else:
            out[d] = ("admit", -1)
    return out


def test_stream_admit_python_replay(spark, oracle_con):
    got = {
        r.doc_id: (r.verdict, r.partner_id)
        for r in REGISTRY["ext_stream_dedup_admit"].fn(spark, SF_DIR).collect()
    }
    assert got == _admit_replay(oracle_con)


def test_stream_admit_verdict_shape(spark):
    rows = REGISTRY["ext_stream_dedup_admit"].fn(spark, SF_DIR).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.doc_id % 3 == 0
        assert r.doc_id not in seen, "one verdict per incoming doc"
        seen.add(r.doc_id)
        if r.verdict == "admit":
            assert r.partner_id == -1
        elif r.verdict == "dup_corpus":
            # corpus partners are index-side docs
            assert r.partner_id % 3 != 0
        else:
            assert r.verdict == "dup_batch"
            # intra-batch partners: smaller id, same micro-batch
            # (parity split) — the batch-order-invariance contract
            assert r.partner_id % 3 == 0
            assert r.partner_id < r.doc_id
            assert r.partner_id % 2 == r.doc_id % 2


def test_stream_admit_leaves_no_tempdir_entries(spark):
    """The op's source and checkpoint dirs live under the process
    scratch root (io/scratch.py, removed at exit), never directly in
    the system tempdir, where nothing would remove them."""
    import tempfile

    tmp = tempfile.gettempdir()
    before = {n for n in os.listdir(tmp) if n.startswith("dedup_admit_")}
    REGISTRY["ext_stream_dedup_admit"].fn(spark, SF_DIR).collect()
    after = {n for n in os.listdir(tmp) if n.startswith("dedup_admit_")}
    assert after <= before, f"left in {tmp}: {sorted(after - before)}"


# ---------------------------------------------------------------------------
# sim_ann_ivf_repair


def _repair_replay(oracle_con):
    """Full pure-Python replay: stale Lloyd update from the drift
    seeds over yesterday's corpus, today's assignment, the 350-permille
    flag rule, the restricted repair update, and micro-unit scoring —
    all folds in the engines' exact order (sorted-sum means,
    sequential-fold dots, (cos DESC, cid) ties)."""
    from duckdb_data_eng_proj_spark.queries.extras_r11 import (
        _DRIFT_SEED_LIMIT,
    )
    from duckdb_data_eng_proj_spark.queries.extras_r13 import (
        _REPAIR_PERMILLE,
    )

    vecs = {
        v: [float(x) for x in e]
        for v, e in oracle_con.execute(
            "SELECT vec_id, embedding FROM embeddings"
        ).fetchall()
    }
    nrm = {v: math.sqrt(_fold_dot(e, e)) for v, e in vecs.items()}

    def assign(src_ids, cent):
        # cent: cid -> (emb, nrm); ties (cos DESC, cid ASC)
        out = {}
        for v in src_ids:
            best = min(
                (
                    (-(_fold_dot(vecs[v], ce) / (nrm[v] * cn)), cid)
                    for cid, (ce, cn) in cent.items()
                )
            )
            out[v] = best[1]
        return out

    def update(assigned):
        # sorted-sum per-dim means, exactly the engines' fold order
        members = defaultdict(list)
        for v, cid in assigned.items():
            members[cid].append(v)
        cent = {}
        for cid, vs in members.items():
            emb = []
            for pos in range(64):
                vals = sorted(vecs[v][pos] for v in vs)
                acc = 0.0
                for x in vals:
                    acc = acc + x
                emb.append(acc / len(vs))
            cent[cid] = (emb, math.sqrt(_fold_dot(emb, emb)))
        return cent

    old_ids = [v for v in vecs if v % 3 != 0]
    seeds = {
        v: (vecs[v], nrm[v])
        for v in vecs
        if v < _DRIFT_SEED_LIMIT and v % 3 != 0
    }
    cold = update(assign(old_ids, seeds))
    a_t = assign(list(vecs), cold)
    cells = defaultdict(list)
    for v, cid in a_t.items():
        cells[cid].append(v)
    out = {}
    for cid, vs in sorted(cells.items()):
        n_members = len(vs)
        n_new = sum(1 for v in vs if v % 3 == 0)
        if n_new * 1000 < n_members * _REPAIR_PERMILLE:
            continue
        rep = update({v: cid for v in vs})[cid]
        ou = sum(
            math.floor(
                (_fold_dot(vecs[v], cold[cid][0]) / (nrm[v] * cold[cid][1]))
                * 1000000
            )
            for v in vs
        )
        nu = sum(
            math.floor(
                (_fold_dot(vecs[v], rep[0]) / (nrm[v] * rep[1])) * 1000000
            )
            for v in vs
        )
        out[cid] = (n_members, n_new, ou, nu, nu - ou)
    return out


def test_repair_python_replay(spark, oracle_con):
    got = {
        r.cid: (r.n_members, r.n_new, r.cos_old_u, r.cos_new_u, r.gain_u)
        for r in REGISTRY["sim_ann_ivf_repair"].fn(spark, SF_DIR).collect()
    }
    assert got == _repair_replay(oracle_con)


def test_repair_laws(spark):
    from duckdb_data_eng_proj_spark.queries.extras_r11 import (
        _DRIFT_SEED_LIMIT,
    )
    from duckdb_data_eng_proj_spark.queries.extras_r13 import (
        _REPAIR_PERMILLE,
    )

    rows = REGISTRY["sim_ann_ivf_repair"].fn(spark, SF_DIR).collect()
    assert rows, "sf0.001 must flag at least one drifted cell"
    for r in rows:
        # flag rule holds on the output's own columns
        assert r.n_new * 1000 >= r.n_members * _REPAIR_PERMILLE, r
        assert 0 < r.n_new <= r.n_members
        # cells are seed centroids from the shared-snapshot seed set
        assert 0 <= r.cid < _DRIFT_SEED_LIMIT and r.cid % 3 != 0
        assert r.gain_u == r.cos_new_u - r.cos_old_u
        # empirical (data) law: retraining on the members improves
        # their summed cosine — pinned so a regression in the update
        # means/assignment surfaces as a law break, not just a hash
        # change
        assert r.gain_u > 0, r


# ---------------------------------------------------------------------------
# ext_curriculum_mix


def _curriculum_replay(oracle_con):
    from duckdb_data_eng_proj_spark.queries.extras_r13 import (
        _CUR_BUDGET_DIV,
        _CUR_STEPS,
    )

    rows = oracle_con.execute(
        "SELECT source, CAST(SUM(len(list_filter(string_split_regex("
        "lower(trim(text)), '\\s+'), x -> x <> ''))) AS BIGINT) "
        "FROM documents GROUP BY source"
    ).fetchall()
    avail = dict(rows)
    budget = sum(avail.values()) // _CUR_BUDGET_DIV

    def tier_parts(src):
        try:
            t = int(src[3:]) % 3
        except ValueError:
            return 1
        return {0: 4, 1: 2}.get(t, 1)

    out = {}
    for step in range(_CUR_STEPS):
        w = {
            s: tier_parts(s) * (_CUR_STEPS - 1 - step) + 1 * step
            for s in avail
        }
        wt = sum(w.values())
        fl = {s: (budget * w[s]) // wt for s in avail}
        rem = {s: (budget * w[s]) % wt for s in avail}
        shortfall = budget - sum(fl.values())
        ranked = sorted(avail, key=lambda s: (-rem[s], s))
        for i, s in enumerate(ranked, 1):
            alloc = fl[s] + (1 if i <= shortfall else 0)
            out[(step, s)] = (
                w[s],
                alloc,
                avail[s],
                1 if alloc > avail[s] else 0,
            )
    return out


def test_curriculum_python_replay(spark, oracle_con):
    got = {
        (r.step, r.source): (r.w_parts, r.alloc_tokens, r.avail_tokens, r.over_avail)
        for r in REGISTRY["ext_curriculum_mix"].fn(spark, SF_DIR).collect()
    }
    assert got == _curriculum_replay(oracle_con)


def test_curriculum_conservation_and_ramp(spark, oracle_con):
    from duckdb_data_eng_proj_spark.queries.extras_r13 import (
        _CUR_BUDGET_DIV,
        _CUR_STEPS,
    )

    rows = REGISTRY["ext_curriculum_mix"].fn(spark, SF_DIR).collect()
    assert rows
    (total,) = oracle_con.execute(
        "SELECT CAST(SUM(len(list_filter(string_split_regex(lower(trim("
        "text)), '\\s+'), x -> x <> ''))) AS BIGINT) FROM documents"
    ).fetchone()
    budget = total // _CUR_BUDGET_DIV
    by_step = defaultdict(list)
    for r in rows:
        by_step[r.step].append(r)
        assert r.over_avail == (1 if r.alloc_tokens > r.avail_tokens else 0)
        assert r.alloc_tokens >= 0 and r.w_parts >= 0
    assert sorted(by_step) == list(range(_CUR_STEPS))
    n_sources = len(by_step[0])
    for step, rs in by_step.items():
        assert len(rs) == n_sources
        # EXACT conservation: largest-remainder apportionment sums to
        # the budget with no rounding slack, every step.
        assert sum(r.alloc_tokens for r in rs) == budget, step
    # curriculum ramp: the final step is uniform parts; tier-0 weight
    # is non-increasing, tier-2 non-decreasing across steps
    last = {r.source: r.w_parts for r in by_step[_CUR_STEPS - 1]}
    assert len(set(last.values())) == 1
    for s in last:
        series = [
            {r.source: r.w_parts for r in by_step[st]}[s]
            for st in range(_CUR_STEPS)
        ]
        assert series == sorted(series) or series == sorted(
            series, reverse=True
        ), (s, series)
