"""Algorithmic laws for the round-12 operators.

Same adversarial posture as tests/test_r10_laws.py / test_r11_laws.py:
the oracle rows prove cross-engine equality; these tests prove the
shared definition is the RIGHT one, via independent replays and
structural laws on sf0.001.

- sim_ann_ivf_admit: conservation (existing memberships sum to the
  corpus size, incoming to the batch size), the seed-set law (exactly
  the 16 corpus seeds, ordered), growth/split formula replays, and a
  full pure-Python argmax replay of both assignments (sequential
  left-fold dot products — the exact IEEE op order of the Spark/
  DuckDB folds — with the (cos DESC, cid) tie-break).
- ext_corpus_release_diff: rollup consistency (the '__total__' row
  equals the per-language sums for docs/tokens and the direct table
  counts), subset monotonicity (old counts never exceed new),
  share-truncation bounds, and a per-language dup-rate replay from
  the independently-verified txt_fingerprint operator.
- dedup_band_index_vacuum: posting conservation against the verified
  dedup_minhash_lsh output, bucket-class disjointness (dead and
  orphan buckets are distinct subsets), formula replays for dead_pml
  and the rewrite flag, and a full per-band Python replay.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.queries import REGISTRY
from duckdb_data_eng_proj_spark.queries.extras_r12 import (
    _ADMIT_K,
    _ADMIT_SPLIT_FACTOR,
    _LOG2,
    _TUNE_GRID,
    _VACUUM_DELETE_MOD,
    _VACUUM_REWRITE_PML,
)
from duckdb_data_eng_proj_spark.queries.extras_r11 import _DRIFT_SEED_LIMIT
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# sim_ann_ivf_admit


def _collect_embeddings(spark):
    from duckdb_data_eng_proj_spark.queries.registry import t

    return {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in t(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }


def _seq_dot(a, b):
    """Sequential left fold — the IEEE op order of F.aggregate and
    DuckDB list_reduce, so the replay is bit-identical, not just
    close."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def test_admit_conservation_and_seeds(spark):
    rows = REGISTRY["sim_ann_ivf_admit"].fn(spark, SF_DIR).collect()
    emb = _collect_embeddings(spark)
    corpus = [v for v in emb if v % 3 != 0]
    batch = [v for v in emb if v % 3 == 0]
    seeds = sorted(v for v in corpus if v < _DRIFT_SEED_LIMIT)
    assert [r.centroid_id for r in rows] == seeds
    assert sum(r.n_existing for r in rows) == len(corpus)
    assert sum(r.n_incoming for r in rows) == len(batch)
    for r in rows:
        assert r.n_after == r.n_existing + r.n_incoming
        assert r.growth_pml == r.n_incoming * 1000 // max(1, r.n_existing)
    total = sum(r.n_after for r in rows)
    balanced = (total + _ADMIT_K - 1) // _ADMIT_K
    for r in rows:
        assert r.needs_split == (
            1 if r.n_after > _ADMIT_SPLIT_FACTOR * balanced else 0
        )


def test_admit_assignment_python_replay(spark):
    """Both assignment passes replayed in pure Python with the exact
    fold order and (cos DESC, cid) tie-break."""
    rows = REGISTRY["sim_ann_ivf_admit"].fn(spark, SF_DIR).collect()
    emb = _collect_embeddings(spark)
    import math

    nrm = {v: math.sqrt(_seq_dot(e, e)) for v, e in emb.items()}
    cents = {
        v: emb[v]
        for v in emb
        if v < _DRIFT_SEED_LIMIT and v % 3 != 0
    }

    def assign(vec_ids):
        counts = defaultdict(int)
        for v in vec_ids:
            best = min(
                (
                    (-_seq_dot(emb[v], cents[c]) / (nrm[v] * nrm[c]), c)
                    for c in cents
                ),
            )[1]
            counts[best] += 1
        return counts

    co = assign([v for v in emb if v % 3 != 0])
    cn = assign([v for v in emb if v % 3 == 0])
    for r in rows:
        assert r.n_existing == co.get(r.centroid_id, 0), r
        assert r.n_incoming == cn.get(r.centroid_id, 0), r


# ---------------------------------------------------------------------------
# ext_corpus_release_diff


def test_release_diff_rollup_and_subset_laws(spark):
    from duckdb_data_eng_proj_spark.queries.registry import t

    rows = REGISTRY["ext_corpus_release_diff"].fn(spark, SF_DIR).collect()
    total = [r for r in rows if r.section == "__total__"]
    langs = [r for r in rows if r.section != "__total__"]
    assert len(total) == 1
    (tot,) = total
    # Rollup equals per-language sums for the additive statistics.
    assert tot.n_docs_new == sum(r.n_docs_new for r in langs)
    assert tot.n_docs_old == sum(r.n_docs_old for r in langs)
    assert tot.tokens_new == sum(r.tokens_new for r in langs)
    assert tot.tokens_old == sum(r.tokens_old for r in langs)
    # ... and the direct table counts.
    d = t(spark, SF_DIR, "documents")
    assert tot.n_docs_new == d.count()
    assert tot.n_docs_old == d.filter(F.col("doc_id") % 3 != 0).count()
    for r in rows:
        # old is a subset of new
        assert 0 <= r.n_docs_old <= r.n_docs_new
        assert 0 <= r.tokens_old <= r.tokens_new
        assert r.docs_delta == r.n_docs_new - r.n_docs_old
        assert 0 <= r.share_old_pml <= 1000
        assert 0 <= r.share_new_pml <= 1000
        assert 0 <= r.dup_bp_old <= 10000
        assert 0 <= r.dup_bp_new <= 10000
    assert tot.share_new_pml == 1000
    assert tot.share_old_pml == 1000
    # Truncating shares: per-language shares lose at most 1 per-mille each.
    for attr in ("share_new_pml", "share_old_pml"):
        s = sum(getattr(r, attr) for r in langs)
        assert 1000 - len(langs) <= s <= 1000, attr


def test_release_diff_dup_rate_replay(spark):
    """Per-language dup basis points replayed from the independently
    verified txt_fingerprint operator (training.py:375)."""
    from duckdb_data_eng_proj_spark.queries.registry import t

    rows = REGISTRY["ext_corpus_release_diff"].fn(spark, SF_DIR).collect()
    fp = (
        REGISTRY["txt_fingerprint"]
        .fn(spark, SF_DIR)
        .join(t(spark, SF_DIR, "documents").select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "fingerprint")
        .collect()
    )
    new_fp = defaultdict(set)
    old_fp = defaultdict(set)
    n_new = defaultdict(int)
    n_old = defaultdict(int)
    for r in fp:
        for key in (r.lang, "__total__"):
            new_fp[key].add(r.fingerprint)
            n_new[key] += 1
            if r.doc_id % 3 != 0:
                old_fp[key].add(r.fingerprint)
                n_old[key] += 1
    import math

    for r in rows:
        exp_new = math.floor(
            (n_new[r.section] - len(new_fp[r.section])) * 10000.0
            / n_new[r.section]
        )
        exp_old = math.floor(
            (n_old[r.section] - len(old_fp[r.section])) * 10000.0
            / max(1, n_old[r.section])
        )
        assert r.dup_bp_new == exp_new, r.section
        assert r.dup_bp_old == exp_old, r.section


# ---------------------------------------------------------------------------
# dedup_band_index_vacuum


def test_vacuum_conservation_and_replay(spark):
    rows = REGISTRY["dedup_band_index_vacuum"].fn(spark, SF_DIR).collect()
    idx = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR).collect()
    # Full Python replay over the verified index output.
    per_bucket = defaultdict(lambda: [0, 0])  # (band,bucket) -> [post, dead]
    for r in idx:
        cell = per_bucket[(r.band, r.bucket)]
        cell[0] += 1
        if r.doc_id % _VACUUM_DELETE_MOD == 0:
            cell[1] += 1
    bands = defaultdict(lambda: [0, 0, 0, 0, 0])
    for (band, _), (post, dead) in per_bucket.items():
        b = bands[band]
        b[0] += 1                       # n_buckets
        b[1] += 1 if dead == post else 0  # n_buckets_dead
        b[2] += 1 if post - dead == 1 else 0  # n_buckets_orphan
        b[3] += post                    # n_postings
        b[4] += dead                    # n_postings_dead
    assert sorted(r.band for r in rows) == sorted(bands)
    for r in rows:
        nb, nbd, nbo, np_, npd = bands[r.band]
        assert (
            r.n_buckets,
            r.n_buckets_dead,
            r.n_buckets_orphan,
            r.n_postings,
            r.n_postings_dead,
        ) == (nb, nbd, nbo, np_, npd), r.band
        # dead and orphan are disjoint bucket classes (an orphan has
        # exactly one LIVE member; a dead bucket has zero)
        assert r.n_buckets_dead + r.n_buckets_orphan <= r.n_buckets
        assert r.dead_pml == r.n_postings_dead * 1000 // r.n_postings
        assert r.rewrite == (1 if r.dead_pml >= _VACUUM_REWRITE_PML else 0)
    # Posting conservation across the whole index.
    assert sum(r.n_postings for r in rows) == len(idx)
    assert sum(r.n_postings_dead for r in rows) == sum(
        1 for r in idx if r.doc_id % _VACUUM_DELETE_MOD == 0
    )


# ---------------------------------------------------------------------------
# dedup_lsh_tune


def _replay_minhash_sigs(spark):
    """Pure-Python 8-hash K-M MinHash signatures from the verified
    bigram-set stage (the tokenizer has its own fuzz suite — the
    replay targets everything dedup_lsh_tune adds on top: hashing,
    banding, occupancy, pair generation, the S-curve)."""
    import hashlib

    from duckdb_data_eng_proj_spark.operators.lsh import N_HASHES
    from duckdb_data_eng_proj_spark.operators.textops import MINHASH_P
    from duckdb_data_eng_proj_spark.queries.training import _bigram_sets_df

    sets, sigs = {}, {}
    for r in _bigram_sets_df(spark, SF_DIR).collect():
        bg = set(r.bg)
        sets[r.doc_id] = bg
        if not bg:
            continue
        pairs = []
        for s in bg:
            h = hashlib.md5(s.encode()).hexdigest()
            pairs.append((int(h[:15], 16), int(h[16:31], 16) | 1))
        sigs[r.doc_id] = [
            min((a + j * b) % MINHASH_P for a, b in pairs)
            for j in range(N_HASHES)
        ]
    return sets, sigs


def test_lsh_tune_grid_and_monotonicity(spark):
    """Structural laws: the full power-of-two grid, a shared
    ground-truth denominator, and the S-curve orderings — more bands
    (fewer rows per band) is pointwise more permissive, so both the
    candidate load and the expected catch must be non-increasing in
    rows_per_band."""
    rows = REGISTRY["dedup_lsh_tune"].fn(spark, SF_DIR).collect()
    assert sorted((r.bands, r.rows_per_band) for r in rows) == sorted(
        _TUNE_GRID
    )
    assert all(r.bands * r.rows_per_band == 8 for r in rows)
    assert len({r.eval_pairs for r in rows}) == 1
    by_rpb = sorted(rows, key=lambda r: r.rows_per_band)
    for prev, cur in zip(by_rpb, by_rpb[1:]):
        assert prev.cand_rows >= cur.cand_rows, (prev, cur)
        assert prev.exp_caught_u >= cur.exp_caught_u, (prev, cur)
    for r in rows:
        assert 0.0 <= r.exp_recall <= 1.0
        if r.eval_pairs:
            assert r.exp_recall == round(
                r.exp_caught_u / float(r.eval_pairs * 1_000_000), 4
            )
        else:
            assert r.exp_recall == 0.0


def test_lsh_tune_python_replay(spark):
    """Full pure-Python replay: occupancy-derived candidate load per
    grid config, the 8x1 ground-truth pair set, exact Jaccard at
    tau = 0.2, and the repeated-squaring S-curve in the IDENTICAL
    IEEE association order — sums must match bit-exactly."""
    import math
    from itertools import combinations

    rows = REGISTRY["dedup_lsh_tune"].fn(spark, SF_DIR).collect()
    sets, sigs = _replay_minhash_sigs(spark)

    # Candidate load per config from slice-tuple occupancy.
    exp_load = {}
    for nb, rpb in _TUNE_GRID:
        total = 0
        for i in range(nb):
            occ = defaultdict(int)
            for sig in sigs.values():
                occ[tuple(sig[i * rpb : (i + 1) * rpb])] += 1
            total += sum(n * (n - 1) // 2 for n in occ.values())
        exp_load[nb] = total

    # Ground-truth pairs: share >= 1 of the 8 minhashes (the 8x1
    # config), then exact-Jaccard tau filter.
    cand = set()
    by_hash = defaultdict(set)
    for doc, sig in sigs.items():
        for j, h in enumerate(sig):
            by_hash[(j, h)].add(doc)
    for docs in by_hash.values():
        for a, b in combinations(sorted(docs), 2):
            cand.add((a, b))
    caught = {nb: 0 for nb, _ in _TUNE_GRID}
    n_pairs = 0
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        un = len(sets[a]) + len(sets[b]) - inter
        if 5 * inter < un:
            continue
        n_pairs += 1
        s = float(inter) / un
        for nb, rpb in _TUNE_GRID:
            sr = s
            for _ in range(_LOG2[rpb]):
                sr = sr * sr
            miss = 1.0 - sr
            for _ in range(_LOG2[nb]):
                miss = miss * miss
            caught[nb] += math.floor((1.0 - miss) * 1000000.0)

    assert n_pairs > 0, "degenerate fixture: no pairs at tau=0.2"
    for r in rows:
        assert r.cand_rows == exp_load[r.bands], r
        assert r.eval_pairs == n_pairs
        assert r.exp_caught_u == caught[r.bands], r
