"""MinHash-LSH: the one place a shingle set becomes bands and pairs.

Every near-dup consumer (dedup, graph, streaming admission, the
banding planner) builds its band table and candidate pairs here, so
the signature shape (N_HASHES hashes, ROWS_PER_BAND rows per band) and
the pair predicates exist once. The DuckDB oracles keep their own
spelled-out SQL (training._LSH_PRELUDE) as the independent reference.

All join helpers work over two aliases of one band table: ``x`` (the
smaller doc_id) and ``y``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.textops import (
    distinct_ngrams,
    lsh_band_buckets,
    minhash_from_pairs,
    minhash_pairs,
    tokens,
)

N_HASHES = 8
ROWS_PER_BAND = 2
HASH_COLS = tuple(f"h{j}" for j in range(N_HASHES))
BUCKET_COLS = tuple(f"b{i}" for i in range(N_HASHES // ROWS_PER_BAND))


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, bg): distinct word-bigram set of each document's text."""
    # Materialize the token array behind a projection barrier before
    # the n-gram transform: inlined, the tokenize sub-expression is
    # re-evaluated inside the shingle lambda per position (~6× the
    # stage cost at sf0.1 — measured on ext_decontaminate r4).
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    return toks.select("doc_id", distinct_ngrams(F.col("tk"), 2).alias("bg"))


def signatures(sets: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """(doc_id, *carry, h0..h7): MinHash signature of each ``bg`` set.

    The (a, b) pair column is materialized as its own projection (md5
    once per shingle — see textops.minhash_pairs) before the minima.
    Every h_j is NULL iff the shingle set is empty."""
    ps = sets.select("doc_id", *carry, minhash_pairs(F.col("bg")).alias("ps"))
    return ps.select("doc_id", *carry, *minhash_from_pairs(F.col("ps"), N_HASHES))


def band_table(
    sets: DataFrame, carry: Sequence[str] = (), bucket_vector: bool = False
) -> DataFrame:
    """(doc_id, *carry, [b0..b3,] band, bucket), one row per band.

    ``bucket_vector`` keeps each doc's full bucket vector on every band
    row — the slots ``first_match`` reads. NULL buckets (empty shingle
    set) are dropped: they can never match."""
    buckets = lsh_band_buckets(list(HASH_COLS), ROWS_PER_BAND)
    sig = signatures(sets, carry)
    vector: list[str] = []
    if bucket_vector:
        vector = list(BUCKET_COLS)
        sig = sig.select(
            "doc_id", *carry, *[b.alias(c) for b, c in zip(buckets, vector)]
        )
        buckets = [F.col(c) for c in vector]
    bands = sig.select(
        "doc_id",
        *carry,
        *vector,
        F.posexplode(F.array(*buckets)).alias("band", "bucket"),
    )
    return bands.filter(F.col("bucket").isNotNull())


def _same_key(key: str) -> Column:
    return (
        (F.col("x.band") == F.col("y.band"))
        & (F.col(f"x.{key}") == F.col(f"y.{key}"))
        & (F.col("x.doc_id") < F.col("y.doc_id"))
    )


def first_match(key: str, slots: Sequence[str]) -> Column:
    """Join condition emitting each (x, y) pair once, at its smallest
    agreeing band: rows meet on (band, ``key``) and the pair is
    suppressed at band b when any earlier slot j < b also agrees.
    ``slots[j]`` is the value that band j joins on, carried on every
    row (``key`` = "bucket" with BUCKET_COLS, or "h" with HASH_COLS
    for a one-hash-per-band table).

    The negation is null-safe, and that can never suppress a
    legitimate pair: a doc's slots are all-NULL or all-non-NULL (every
    h_j is NULL iff its shingle set is empty) and NULL rows never
    enter the band table, so both sides of a match carry non-NULL
    slots throughout."""
    cond = _same_key(key)
    for j, slot in enumerate(slots[:-1]):
        cond &= ~(
            (F.lit(j) < F.col("x.band"))
            & F.col(f"x.{slot}").eqNullSafe(F.col(f"y.{slot}"))
        )
    return cond


def bucket_pairs(bands: DataFrame) -> DataFrame:
    """DISTINCT (doc_a, doc_b), doc_a < doc_b, of docs sharing any
    (band, bucket) — the DuckDB oracles' ``cand`` CTE."""
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(y, _same_key("bucket"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
