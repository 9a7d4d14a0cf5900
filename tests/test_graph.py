"""Laws for operators/graph.py, run as Spark plans.

The undirected edge table (both engines), the fixed-round loop's
checkpoint rule and the state-sized width scope are shared by every
pair-graph operator; these pin each on small seeded inputs. The
components fixpoints keep their own law tests (test_r15_laws,
test_r16_laws, test_semantic_laws).
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.graph import (
    EDGES_SQL,
    fixed_rounds,
    self_labels,
    state_sized_shuffle,
    undirected,
)
from duckdb_data_eng_proj_spark.plans.audit import count_exchanges

_KEY = "spark.sql.shuffle.partitions"


def _random_pairs(seed: int) -> list:
    """Distinct (doc_a, doc_b) pairs with doc_a < doc_b: the contract
    _near_dup_pairs and lsh.bucket_pairs guarantee."""
    rng = random.Random(seed)
    n_nodes = rng.randint(2, 40)
    pairs = set()
    for _ in range(rng.randint(0, 3 * n_nodes)):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    return sorted(pairs)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_undirected_doubles_pairs_without_duplicates(spark, seed):
    pairs = _random_pairs(seed)
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    edges = [(r.src, r.dst) for r in undirected(df).collect()]
    assert len(edges) == 2 * len(pairs)
    assert len(set(edges)) == len(edges), "duplicate edge"
    assert {(b, a) for a, b in edges} == set(edges), "not symmetric"
    assert {(min(e), max(e)) for e in edges} == set(pairs)


@pytest.mark.parametrize("seed", [5, 6])
def test_edges_sql_matches_undirected(spark, seed):
    """The oracle CTE and `undirected` return the same multiset."""
    pairs = _random_pairs(seed)
    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", pairs)
    want = sorted(
        con.execute(
            f"WITH ndpairs AS (SELECT * FROM pairs), {EDGES_SQL} "
            "SELECT src, dst FROM edges"
        ).fetchall()
    )
    con.close()
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    assert sorted((r.src, r.dst) for r in undirected(df).collect()) == want


def _vote(edges):
    """graph_label_communities' round: neighbor-majority label, ties to
    the smallest label (two shuffles per round)."""

    def step(labels, _i):
        votes = (
            edges.join(labels.select(F.col("doc_id").alias("dst"), "lbl"), "dst")
            .groupBy("src", "lbl")
            .agg(F.count("*").alias("c"))
        )
        return (
            votes.groupBy("src")
            .agg(F.max(F.struct("c", (-F.col("lbl")).alias("nl"))).alias("m"))
            .select(F.col("src").alias("doc_id"), (-F.col("m.nl")).alias("lbl"))
        )

    return step


@pytest.mark.parametrize("seed", [7, 8, 9])
def test_fixed_rounds_equals_uncheckpointed_rounds(spark, seed):
    pairs = _random_pairs(seed) or [(0, 1)]
    edges = undirected(
        spark.createDataFrame(pairs, "doc_a long, doc_b long")
    ).localCheckpoint()
    step = _vote(edges)
    seen = []

    def recording(state, i):
        seen.append(i)
        return step(state, i)

    seed_labels = self_labels(edges)
    got = fixed_rounds(seed_labels.localCheckpoint(eager=False), 3, recording)
    assert seen == [1, 2, 3]
    # materialized before it returned: the plan is a scan of an RDD
    # whose checkpoint is already written (a lazy checkpoint is not
    # until an action runs), with no exchange left
    assert got._jdf.queryExecution().logical().rdd().isCheckpointed()
    assert count_exchanges(got) == 0

    want = seed_labels
    for i in range(1, 4):
        want = step(want, i)
    assert count_exchanges(want) > 0
    assert sorted(got.collect()) == sorted(want.collect())


def test_width_scope_one_partition_for_small_state(spark):
    old = spark.conf.get(_KEY)
    with state_sized_shuffle(spark, 30_000) as parts:
        assert parts == 1
        assert spark.conf.get(_KEY) == "1"
    assert spark.conf.get(_KEY) == old


def test_width_scope_clamps_to_default_parallelism(spark):
    cap = spark.sparkContext.defaultParallelism
    with state_sized_shuffle(spark, 10_000_000_000) as parts:
        assert parts == cap
        assert spark.conf.get(_KEY) == str(cap)


def test_width_scope_restores_width_when_body_raises(spark):
    old = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "7")
    try:
        with pytest.raises(ValueError, match="boom"):
            with state_sized_shuffle(spark, 1):
                assert spark.conf.get(_KEY) == "1"
                raise ValueError("boom")
        assert spark.conf.get(_KEY) == "7"
    finally:
        spark.conf.set(_KEY, old)
