"""Laws for operators/lsh.py, run as Spark plans.

tests/test_r21_opt_laws.py proves the first-match-band argument in pure
Python; these run the actual ``first_match`` join condition and the
``bucket_pairs`` DISTINCT form on small random band tables and on the
documents fixture, and pin that the streaming admission index is the
batch band table restricted to the admitted corpus.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.lsh import (
    HASH_COLS,
    bucket_pairs,
    first_match,
)
from duckdb_data_eng_proj_spark.queries import REGISTRY
from tests.conftest import SF_DIR

_TRIALS = 40


def _random_vectors(rng: random.Random, n_slots: int) -> dict:
    """doc_id -> per-slot values for _TRIALS independent corpora in one
    table: doc_ids and values are prefixed per trial, so no pair forms
    across trials. ~10% of docs are all-NULL (empty shingle set)."""
    vectors = {}
    for trial in range(_TRIALS):
        n_buckets = rng.randint(1, 4)  # few buckets: many collisions
        for d in range(rng.randint(0, 12)):
            doc_id = trial * 100 + d
            if rng.random() < 0.1:
                vectors[doc_id] = (None,) * n_slots
            else:
                vectors[doc_id] = tuple(
                    f"t{trial}v{rng.randrange(n_buckets)}" for _ in range(n_slots)
                )
    return vectors


def _agreeing_pairs(vectors: dict) -> set:
    """Every (a < b) pair agreeing on at least one non-NULL slot."""
    docs = sorted(vectors)
    return {
        (a, b)
        for i, a in enumerate(docs)
        for b in docs[i + 1 :]
        if any(u is not None and u == v for u, v in zip(vectors[a], vectors[b]))
    }


def _band_table(spark, vectors: dict, slots: list, key: str):
    """One row per (doc, slot) carrying the doc's full slot vector, NULL
    keys dropped — the band_table(bucket_vector=True) layout."""
    rows = [
        (doc_id, *vec, band, value)
        for doc_id, vec in vectors.items()
        for band, value in enumerate(vec)
    ]
    schema = ", ".join(
        ["doc_id BIGINT", *[f"{s} STRING" for s in slots], "band INT", f"{key} STRING"]
    )
    return spark.createDataFrame(rows, schema).filter(F.col(key).isNotNull())


def _first_match_pairs(bands, key: str, slots) -> list:
    x, y = bands.alias("x"), bands.alias("y")
    return [
        (r.doc_a, r.doc_b)
        for r in x.join(y, first_match(key, slots))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .collect()
    ]


@pytest.mark.parametrize("n_bands", [1, 2, 4])
def test_first_match_equals_bucket_pairs(spark, n_bands):
    rng = random.Random(500 + n_bands)
    vectors = _random_vectors(rng, n_bands)
    slots = [f"b{i}" for i in range(n_bands)]
    bands = _band_table(spark, vectors, slots, "bucket")

    fm = _first_match_pairs(bands, "bucket", slots)
    assert len(fm) == len(set(fm)), "first_match emitted a duplicate pair"
    distinct = {(r.doc_a, r.doc_b) for r in bucket_pairs(bands).collect()}
    assert set(fm) == distinct == _agreeing_pairs(vectors)


def test_first_match_one_hash_per_band(spark):
    """The 8-slot ``key="h"`` shape dedup_lsh_tune joins on."""
    rng = random.Random(508)
    vectors = _random_vectors(rng, len(HASH_COLS))
    bands = _band_table(spark, vectors, list(HASH_COLS), "h")

    fm = _first_match_pairs(bands, "h", HASH_COLS)
    assert len(fm) == len(set(fm)), "first_match emitted a duplicate pair"
    distinct = {
        (r.doc_a, r.doc_b)
        for r in bucket_pairs(bands.withColumnRenamed("h", "bucket")).collect()
    }
    assert set(fm) == distinct == _agreeing_pairs(vectors)


def test_cand_pairs_equal_bucket_pairs_on_documents(spark):
    """The first-match candidate stream over the real band table equals
    the DISTINCT form the oracles spell out, with no duplicate."""
    from duckdb_data_eng_proj_spark.queries.training import (
        _lsh_bands_df,
        _lsh_cand_pairs,
    )

    fm = _lsh_cand_pairs(spark, SF_DIR).localCheckpoint()
    distinct = bucket_pairs(_lsh_bands_df(spark, SF_DIR))
    assert fm.count() == fm.distinct().count() > 0
    assert fm.exceptAll(distinct).count() == 0
    assert distinct.exceptAll(fm).count() == 0


def test_streaming_index_is_batch_band_table(spark):
    """ext_stream_dedup_admit's persisted index is dedup_minhash_lsh
    restricted to the admitted corpus (doc_id % 3 != 0), and its
    verification sets are the batch shingle sets."""
    from duckdb_data_eng_proj_spark.queries.extras_r13 import _admit_build_index
    from duckdb_data_eng_proj_spark.queries.training import _bigram_sets_df

    idx_bands, idx_bg = _admit_build_index(spark, SF_DIR)
    admitted = F.col("doc_id") % 3 != 0
    batch = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR).filter(admitted)
    assert idx_bands.count() > 0
    assert idx_bands.exceptAll(batch).count() == 0
    assert batch.exceptAll(idx_bands).count() == 0

    sets = _bigram_sets_df(spark, SF_DIR).filter(admitted)
    bg = idx_bg.select(F.col("_idb").alias("doc_id"), F.col("bg_b").alias("bg"))
    assert bg.exceptAll(sets).count() == 0
    assert sets.exceptAll(bg).count() == 0
