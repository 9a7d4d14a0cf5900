"""Seeded cross-engine fuzz of the order-pinned float vector fold.

`operators.vectors.dot/cosine` (F.aggregate sequential fold, DOUBLE,
0.0 seed) and the oracle's `list_reduce` spelling
(`operators.vectors.dot_sql`) must produce BIT-IDENTICAL doubles —
every similarity operator's candidate ranking and every fixed-point
floor(cos·1e4) threshold rides on it. Floating-point addition is not
associative, so this only holds because both engines fold
left-to-right over the same element order; this fuzz feeds vectors
designed to EXPOSE reordering (magnitudes spanning 1e-8..1e8,
catastrophic cancellation pairs, denormal-adjacent values, negative
zeros) and asserts exact equality of the raw doubles — no rounding,
no tolerance.

The centroid family's shared primitives get the same treatment: the
Spark argmax assignment (`vectors.assign`) against its SQL twin
(`assign_cte`) on tables holding an exact cosine tie and zero norms,
and the Lloyd update's sorted-fold means (`update` / `sorted_mean`)
against `update_ctes` / `MEAN_SQL` on rows scattered over shuffled
partitions.
"""

from __future__ import annotations

import os
import random
import struct
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_data_eng_proj_spark.operators.vectors import (
    assign,
    assign_cte,
    cosine,
    dot,
    dot_sql,
    norm,
    normed,
    normed_cte,
    update,
    update_ctes,
)


def _f32(x: float) -> float:
    """Round-trip through float32 — embeddings are array<float>."""
    return struct.unpack("f", struct.pack("f", x))[0]


def _gen_vectors(n: int, dim: int, seed: int) -> list:
    rng = random.Random(seed)
    vecs = []
    for _ in range(n):
        roll = rng.random()
        if roll < 0.5:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        elif roll < 0.7:   # magnitude spread: fold order matters most
            v = [rng.uniform(-1, 1) * 10 ** rng.randint(-8, 8) for _ in range(dim)]
        elif roll < 0.85:  # cancellation: big +x, -x pairs with dust
            v = []
            while len(v) < dim - 1:
                big = rng.uniform(1e6, 1e8)
                v += [big, -big]
            v = v[:dim - 1] + [rng.uniform(-1e-6, 1e-6)]
        else:              # tiny / signed-zero territory
            v = [rng.choice([0.0, -0.0, 1e-38, -1e-38, rng.uniform(-1e-30, 1e-30)])
                 for _ in range(dim)]
        vecs.append([_f32(x) for x in v])
    return vecs


def test_dot_and_cosine_fold_bit_identical(spark):
    dim = 9  # odd, so cancellation pairs straddle fold steps
    vecs = _gen_vectors(120, dim, seed=2718)
    pairs = [(i, vecs[i], vecs[(i * 7 + 3) % len(vecs)]) for i in range(len(vecs))]
    schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("a", T.ArrayType(T.FloatType())),
            T.StructField("b", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(pairs, schema)
    got = {
        r.i: (r.dp, r.cos)
        for r in df.select(
            "i",
            dot(F.col("a"), F.col("b")).alias("dp"),
            cosine(F.col("a"), F.col("b")).alias("cos"),
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE v (i BIGINT, a FLOAT[], b FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?, ?)", pairs)
    sql = (
        f"SELECT i, {dot_sql('a', 'b')} AS dp, "
        f"{dot_sql('a', 'b')} / (sqrt({dot_sql('a', 'a')}) * "
        f"sqrt({dot_sql('b', 'b')})) AS cos FROM v"
    )
    for i, want_dp, want_cos in con.execute(sql).fetchall():
        have_dp, have_cos = got[i]
        # exact: same fold order -> same IEEE result, bit for bit
        assert have_dp == want_dp or (have_dp != have_dp and want_dp != want_dp), (
            f"pair {i}: dot {have_dp!r} != {want_dp!r}"
        )
        assert have_cos == want_cos or (
            have_cos != have_cos and want_cos != want_cos
        ), f"pair {i}: cos {have_cos!r} != {want_cos!r}"


_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _duck_embeddings(rows: list) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    return con


def test_assign_matches_assign_cte(spark):
    """vectors.assign ≡ assign_cte row for row: each table holds one
    centroid duplicated under two cids (an exact cosine tie — both
    engines must pick the lower cid), a zero-norm centroid, a
    zero-norm vector (both excluded) and an off-width vector (outside
    the fixed-dim contract)."""
    dim = 4
    for seed in range(6):
        rng = random.Random(seed)
        vecs = [
            [_f32(rng.choice([-2.0, -1.0, 0.5, 1.0, 3.0]) * rng.random())
             for _ in range(dim)]
            for _ in range(30)
        ]
        vecs[7] = [0.0] * dim  # zero-norm vector
        rows = [(i, v) for i, v in enumerate(vecs)] + [(99, [1.0] * (dim - 1))]
        seeds = [vecs[i] for i in rng.sample(range(8, 30), 4)]
        cents = [(10, seeds[0]), (11, seeds[1]), (12, seeds[2]),
                 (13, seeds[3]), (14, seeds[1]),  # 14 ties 11 exactly
                 (15, [0.0] * dim)]  # zero-norm centroid

        en = normed(spark.createDataFrame(rows, _EMB_SCHEMA), dim)
        cent = spark.createDataFrame(
            cents, "cid BIGINT, c_emb ARRAY<FLOAT>"
        ).select("cid", "c_emb", norm(F.col("c_emb")).alias("c_nrm"))
        got = sorted(tuple(r) for r in assign(en, cent).collect())

        con = _duck_embeddings(rows)
        con.execute("CREATE TABLE cents (cid BIGINT, c_emb FLOAT[])")
        con.executemany("INSERT INTO cents VALUES (?, ?)", cents)
        want = sorted(
            con.execute(
                f"WITH {normed_cte(dim)}, cent AS (SELECT cid, c_emb, "
                f"sqrt({dot_sql('c_emb', 'c_emb')}) AS c_nrm FROM cents), "
                f"{assign_cte('a', 'e', 'cent')} SELECT vec_id, cid FROM a"
            ).fetchall()
        )
        assert got == want, f"seed {seed}: {set(got) ^ set(want)}"
        assert len(got) == len(vecs) - 1  # zero and off-width rows drop
        assert 14 not in {cid for _, cid in got}  # the tie goes to 11


def test_update_sorted_fold_means_match_update_ctes(spark):
    """The Lloyd update's sorted-fold means (vectors.update /
    sorted_mean) ≡ update_ctes / MEAN_SQL bit for bit, on the
    adversarial magnitudes above with the member rows spread over
    several partitions in shuffled order — an unsorted fold would
    depend on the arrival order."""
    dim = 9
    vecs = _gen_vectors(160, dim, seed=31)
    rows = [(i, v) for i, v in enumerate(vecs)]
    rng = random.Random(5)
    members = [(i, rng.randrange(4)) for i in range(len(vecs))]
    rng.shuffle(rows)
    rng.shuffle(members)

    en = normed(spark.createDataFrame(rows, _EMB_SCHEMA).repartition(5), dim)
    asg = spark.createDataFrame(members, "vec_id BIGINT, cid BIGINT").repartition(3)
    got = {r.cid: (r.c_emb, r.c_nrm) for r in update(en, asg).collect()}

    con = _duck_embeddings(rows)
    con.execute("CREATE TABLE asg (vec_id BIGINT, cid BIGINT)")
    con.executemany("INSERT INTO asg VALUES (?, ?)", members)
    want = {
        cid: (c_emb, c_nrm)
        for cid, c_emb, c_nrm in con.execute(
            f"WITH {normed_cte(dim)}, {update_ctes('c', 'asg', dim)} "
            "SELECT cid, c_emb, c_nrm FROM c"
        ).fetchall()
    }
    assert sorted(got) == sorted(want) == [0, 1, 2, 3]
    for cid, (c_emb, c_nrm) in want.items():
        have_emb, have_nrm = got[cid]
        assert [repr(x) for x in have_emb] == [repr(x) for x in c_emb], cid
        assert repr(have_nrm) == repr(c_nrm), cid
