"""Corpus-cleaning composites: the training-data pipeline end-to-end.

``dedup_near_keep`` turns near-dup *detection* into near-dup
*removal* (keep the smallest doc_id of every similar pair — the
standard greedy survivor rule), and ``pipe_corpus_clean`` chains the
whole north-star pipeline: quality scoring → language filter → exact
dedup by fingerprint → near-dup removal → surviving corpus stats.
Both fully oracle-checked; the oracle SQL is composed from the same
mirrored fragments as the individual operators.

Scale shape: every stage is either a narrow map or a key-bounded
join/aggregate. ACTUAL stage order (round-15 review corrected this
text — it previously described an order the code never had): the
near-dup LSH/minhash stage hashes the FULL corpus (its loser set is
defined corpus-wide, matching the oracle), the quality/language
filters and the near-dup anti-join apply to the scored rows, and the
fingerprint keep-first window runs LAST over the surviving set —
WHERE before QUALIFY, exactly as the oracle states it. The orders
are not interchangeable: a near-dup loser that shares a fingerprint
with a survivor changes the keep-first winner.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.functions.scalars import doc_bucket100
from duckdb_data_eng_proj_spark.operators.lsh import BUCKET_COLS, band_table, first_match
from duckdb_data_eng_proj_spark.queries.registry import register
from duckdb_data_eng_proj_spark.queries.training import (
    _LANG_PRED_SQL,
    _LSH_PRELUDE,
    _LSH_PRELUDE_BODY,
    _bigram_sets_df,
    _fp_sql,
    _lang_hits_sql,
)


@contextmanager
def _state_sized_shuffle(spark: SparkSession, state_rows: int, rows_per_part: int = 100_000):
    """Size ``spark.sql.shuffle.partitions`` to the iteration state for
    the duration of an iterative loop, then restore.

    AQE coalesces tiny shuffles automatically, but iterative loops
    checkpoint every round, and the latency profile (bench) runs AQE
    off — so the loop hand-sizes its shuffle width the same way AQE
    would: ~``rows_per_part`` label/edge rows per task, clamped to
    [1, defaultParallelism]. A 30k-edge graph iterates on 1 partition
    (every stage one task, no fan-out floor); a 10B-edge graph at the
    100 TB design point gets full cluster width from the same dial.
    """
    parts = max(1, min(spark.sparkContext.defaultParallelism, -(-state_rows // rows_per_part)))
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(parts))
    try:
        yield parts
    finally:
        spark.conf.set(key, old)


# Jaccard thresholds in exact single-intersect integer form:
# i/(sx+sy-i) >= 1/k  <=>  k*i >= sx+sy-i  <=>  (k+1)*i >= sx+sy.
# Equivalence with the double-division form (i/u >= <float literal>)
# is exhaustively verified for every reachable (i, union) up to 3000
# by tests/test_r20_opt_laws.py: for small-denominator rationals the
# gap to the threshold is >= 1/(k*u), ~1e10x the double rounding
# error, so the two predicates select identical pair sets. The oracle
# keeps its double form; only the Spark-side selection expression is
# rewritten. _near_dup_pairs accepts only these thresholds (KeyError
# otherwise): a new one needs its own verified integer form.
_JACC_INT_MULT = {0.05: 21, 0.10: 11}


def _near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    keep_sizes: bool = False,
) -> DataFrame:
    """Verified near-dup pairs (doc_a < doc_b, exact Jaccard ≥
    threshold) from the LSH band-bucket candidate self-join.

    ``keep_sizes`` additionally returns the exact intersection/union
    cardinalities (``inter``/``uni`` BIGINT columns) for callers that
    weight the pair, e.g. graph_mst_boruvka's integer dissimilarity
    (r16: that caller previously carried a full copy of this
    pipeline).

    Shape (r20 first-match base + the r21 bg-narrow probe side): ONE
    checkpointed band table carrying each doc's shingle set and all
    band buckets feeds both sides of the (band, bucket) self-join;
    each matching pair is emitted exactly once by the FIRST-MATCH-BAND
    predicate (lsh.first_match: suppress at band b when any band j < b
    also agrees).
    The PROBE side is a bg-narrow projection of the checkpoint, so the
    widest column moves n_bands× on one side only (VERDICT r20 item 1
    flagged the both-sides inflation; guide §2.3); bg_a is re-attached
    to the deduped pair stream by ONE doc-keyed join against the
    band-0 slice and the single-intersect integer Jaccard qualifier
    runs there. vs the r19 DISTINCT-then-join-shingles-twice form this
    still saves the distinct exchange, a checkpoint job and a
    hashed-relation build (r20: 1.48 -> 0.90 s/call); vs the r20
    both-sides-wide form the ×16 stress A/B (default profile,
    interleaved) reads mean −9% with sf0.1 cost ≤ +0.06 s/call, exact
    multiset equality at both thresholds and both output forms. At
    100 TB the checkpointed table is the persisted signature table of
    standard LSH practice (corpus-linear at n_bands rows/doc; the bg
    payload still stored n_bands× — ADVICE r20 notes the single-copy
    alternative if checkpoint memory ever binds, A/B'd this round as
    a local wash)."""
    bands = band_table(
        _bigram_sets_df(spark, sf_dir), carry=("bg",), bucket_vector=True
    ).localCheckpoint()
    # r21 (VERDICT r20 item 1, guide §2.3 "shuffle fewer bytes"): the
    # PROBE side of the self-join is a bg-NARROW projection of the same
    # checkpoint — the widest column (the shingle array) no longer
    # rides the x-side exchange at all; the y side still verifies with
    # bg on its band rows, and bg_a is re-attached to the deduped pair
    # stream ONCE by a doc-keyed join against the band-0 slice. Byte
    # math at scale: bg moves n_bands× on ONE side + once per pair,
    # vs n_bands× on BOTH sides before. Measured: ×16 stress,
    # SPARK_GRAFT_PROFILE=default, interleaved laps — current
    # 13.46/13.75/13.61/16.48 s vs narrow 12.77/13.41/13.81/12.24 s
    # (mean −9%, two independent sessions agree); sf0.1 bench-protocol
    # cost ≤ +0.06 s/call (means 1.03 vs 1.07). Exact multiset
    # equality at both thresholds and both output forms (exceptAll
    # both ways empty, 30200/829 pairs).
    x, y = bands.drop("bg").alias("x"), bands.alias("y")
    pairs0 = x.join(y, first_match("bucket", BUCKET_COLS)).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.col("y.bg").alias("bg_b"),
    )
    bga = bands.filter(F.col("band") == 0).select(
        F.col("doc_id").alias("doc_a"), F.col("bg").alias("bg_a")
    )
    inter = F.size(F.array_intersect(F.col("bg_a"), F.col("bg_b")))
    qual = (F.lit(_JACC_INT_MULT[threshold]) * inter) >= (
        F.size(F.col("bg_a")) + F.size(F.col("bg_b"))
    )
    # Skew caveat: the Jaccard filter runs after this join, so every
    # unverified candidate pair carries its bg_b array through the
    # doc_a-keyed exchange. A hub document (one that shares a bucket
    # with many others) sends all its candidates to one partition, and
    # that pair stream can outweigh what dropping bg from the band
    # table's probe side saves.
    verified = pairs0.join(bga, "doc_a").filter(qual)
    if keep_sizes:
        union_ = F.size(F.col("bg_a")) + F.size(F.col("bg_b")) - inter
        return verified.select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            union_.cast("long").alias("uni"),
        )
    return verified.select("doc_a", "doc_b")


def _near_dup_losers(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """doc_ids that lose the survivor rule: every doc_b of a verified
    near-dup pair (doc_a < doc_b, Jaccard ≥ threshold)."""
    return (
        _near_dup_pairs(spark, sf_dir, threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


_PAIRS_SQL = (
    "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
    "FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket "
    "AND x.doc_id < y.doc_id), "
    "ndpairs AS MATERIALIZED (SELECT c.doc_a, c.doc_b FROM cand c "
    "JOIN bg a ON a.doc_id = c.doc_a JOIN bg b ON b.doc_id = c.doc_b "
    "WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / "
    "(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) >= {thr})"
)

_LOSERS_SQL = (
    _PAIRS_SQL + ", losers AS (SELECT DISTINCT doc_b AS doc_id FROM ndpairs)"
)


@register(
    "dedup_near_keep",
    oracle=(
        f"{_LSH_PRELUDE}, "
        + _LOSERS_SQL.format(thr=0.05)
        + " SELECT d.doc_id FROM documents d "
        "LEFT JOIN losers l ON d.doc_id = l.doc_id WHERE l.doc_id IS NULL"
    ),
    doc=(
        "Near-dup REMOVAL (survivor rule): of every verified pair keep "
        "the smaller doc_id; a doc survives iff it is nobody's doc_b. "
        "Greedy pairwise survivorship ≈ cluster-representative choice "
        "without an iterative connected-components pass — the standard "
        "corpus-dedup tradeoff. Anti-join against the loser set."
    ),
)
def dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.registry import t

    losers = _near_dup_losers(spark, sf_dir, 0.05)
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


# quality + language fragments mirrored from training.py's registered
# ops, restricted to what the composite needs.
_QL_CTE = (
    # display rounds replay Spark's shortest-repr HALF_UP (r17 F.round
    # rule) — decisive here: quality_score feeds a >= 0.5 GATE, so a
    # halfway divergence flips membership, not just a digit
    "ql AS (SELECT t.doc_id AS doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens, "
    "CAST(round(CAST(CAST("
    "0.5 * least(1.0, CAST(len(t.tk) AS DOUBLE) / 50.0) "
    "+ 0.3 * (CAST(len(list_filter(t.tk, x -> list_contains(['the', 'a', 'and', "
    "'of', 'to', 'in', 'is', 'it', 'on', 'for'], x))) AS DOUBLE) "
    "/ nullif(len(t.tk), 0)) "
    "+ 0.2 * (1.0 - least(1.0, 10.0 * "
    "CAST(len(regexp_extract_all(lower(trim(d.text)), '[^a-z0-9\\s]')) AS DOUBLE) "
    "/ nullif(length(trim(d.text)), 0))) "
    "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS quality_score, "
    + ", ".join(f"{_lang_hits_sql(lg)} AS {lg}_hits" for lg in ("en", "de", "fr", "es"))
    + ", "
    # txt_fingerprint's fragment (training._fp_sql) with the shingle
    # expression inlined — no sh CTE here, the composite computes the
    # fingerprint in the same projection as quality/lang.
    + _fp_sql(
        "t.tk",
        "list_transform(range(len(t.tk) - 4), "
        "i -> array_to_string(t.tk[i+1:i+5], ' '))",
    )
    + " AS fingerprint "
    "FROM documents d JOIN toks t USING (doc_id))"
)


@register(
    "pipe_corpus_clean",
    oracle=(
        f"{_LSH_PRELUDE}, "
        + _LOSERS_SQL.format(thr=0.05)
        + f", {_QL_CTE}, "
        "kept AS (SELECT q.* FROM ql q "
        "LEFT JOIN losers l ON q.doc_id = l.doc_id "
        "WHERE q.quality_score >= 0.5 AND (" + _LANG_PRED_SQL + ") = 'en' "
        "AND l.doc_id IS NULL "
        "QUALIFY row_number() OVER (PARTITION BY q.fingerprint "
        "ORDER BY q.doc_id) = 1) "
        "SELECT doc_id, n_tokens, quality_score FROM kept"
    ),
    doc=(
        "END-TO-END training-corpus cleaning: quality score ≥ 0.5 AND "
        "language = en AND not a near-dup loser (LSH + Jaccard "
        "survivor rule over the FULL corpus — the loser set is "
        "corpus-wide by definition), THEN exact dedup keeps the first "
        "doc per 5-gram fingerprint among the survivors (WHERE before "
        "QUALIFY, mirroring the oracle; the orders differ observably "
        "when a loser shares a fingerprint with a survivor — round-15 "
        "review corrected this text). One lazy plan: narrow scoring "
        "maps, the bucket join, one keep-first window."
    ),
)
def pipe_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from duckdb_data_eng_proj_spark.queries.training import (
        txt_fingerprint,
        txt_lang_id,
        txt_quality_score,
    )

    quality = txt_quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    lang = txt_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    fp = txt_fingerprint(spark, sf_dir).select("doc_id", "fingerprint")
    losers = _near_dup_losers(spark, sf_dir, 0.05)

    kept = (
        quality.join(lang, "doc_id")
        .join(fp, "doc_id")
        .filter((F.col("quality_score") >= 0.5) & (F.col("pred_lang") == "en"))
        .join(losers, "doc_id", "left_anti")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens", "quality_score")
    )


# Safety cap only — the loop exits on fixpoint (5-6 rounds measured).
_CC_MAX_ROUNDS = 64

# Crossover policy (VERDICT r4 #6): label propagation's round count
# grows with graph diameter (×8 stress: 5.3× wall, purely more
# rounds), so dedup_cluster_cc runs label-prop for at most this many
# rounds, then CONTRACTS the graph by the partial labels and finishes
# with the O(log²)-round alternating-star algorithm on the (much
# smaller) label graph. The test graphs converge well inside the cap,
# so the oracle-checked path is pure label-prop; the fallback is
# pinned by a forced-crossover equality test (tests/test_semantic_laws).
_CC_LP_CROSSOVER_ROUNDS = 16


def _label_prop_rounds(edges: DataFrame, max_rounds: int):
    """Min-label propagation + pointer jumping for ≤ max_rounds.

    Returns (labels, converged): labels maps doc_id -> lbl (monotone
    non-increasing, always a doc_id inside the component); converged
    is False when the round budget ran out before the fixpoint.
    """
    lab = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(max_rounds):
        contrib = edges.join(
            lab.withColumnRenamed("doc_id", "dst"), "dst"
        ).select(F.col("src").alias("doc_id"), "lbl")
        propagated = (
            contrib.unionByName(lab.select("doc_id", "lbl"))
            .groupBy("doc_id")
            .agg(F.min("lbl").alias("lbl"))
        )
        ptr = propagated.select(
            F.col("doc_id").alias("_pdoc"), F.col("lbl").alias("_plbl")
        )
        # Lazy checkpoint: the convergence agg below is the action
        # that materializes it — one job per round, not two.
        lab = propagated.join(ptr, F.col("lbl") == F.col("_pdoc")).select(
            "doc_id", F.col("_plbl").alias("lbl")
        ).localCheckpoint(eager=False)
        (cur_sum,) = lab.agg(F.sum("lbl")).first()
        if cur_sum == prev_sum:
            return lab, True
        prev_sum = cur_sum
    return lab, False


def _star_fixpoint(edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star to fixpoint over canonical
    (u < v) edges; returns the fixpoint star edges (root u -> member
    v).

    Convergence probe (r16, VERDICT r15 item 1): the cheap
    (count, Σu, Σv) signature SCREENS each round, and a signature
    match is then CONFIRMED by an exact set no-change check — with
    equal counts, one-sided ``exceptAll`` emptiness proves multiset
    equality. The signature alone has no monotonicity proof (unlike
    label-prop's non-increasing label sum), and an unconfirmed
    signature exit is exactly the collision class that was REAL in
    graph_mst_boruvka's pointer-doubling probe (r15, fixed 3907a9b).
    The confirm join is state-sized and only runs on candidate-exit
    rounds (once, at the true fixpoint, on every graph observed).
    Raises instead of returning a non-fixpoint edge set if the round
    cap exhausts — callers must never treat a truncated contraction
    as converged components.

    r20: the signature screen is SEEDED with the INPUT's signature
    (one tiny agg over the checkpointed input) instead of starting at
    None — an input that is already a star fixpoint (the common
    Borůvka-crossover residual: a handful of canonical star edges)
    exits after ONE star round + confirm instead of two. At this
    engine's bench scale a star round costs ~1.4 s of driver-side
    Catalyst planning + codegen alone (measured on a 1-edge residual:
    1.6 s cold round vs 0.12 s re-running the identical DataFrame),
    so the saved round is pure wall-clock; loop semantics for
    non-fixpoint inputs are unchanged (round r still exits on
    out(r) == in(r), confirmed exactly). The input is
    lazy-checkpointed so every round's plan starts at a LogicalRDD
    scan instead of re-planning the caller's contraction lineage."""
    edges = edges.localCheckpoint(eager=False)
    prev_sig = tuple(edges.agg(F.count("*"), F.sum("u"), F.sum("v")).first())
    for _ in range(_CC_MAX_ROUNDS):
        # Lazy checkpoint: the signature agg is the materializing
        # action — one job per star round.
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        sig = tuple(nxt.agg(F.count("*"), F.sum("u"), F.sum("v")).first())
        if sig == prev_sig and nxt.exceptAll(edges).isEmpty():
            return nxt
        prev_sig, edges = sig, nxt
    raise RuntimeError(
        f"_star_fixpoint: no fixpoint within {_CC_MAX_ROUNDS} alternating "
        "star rounds — refusing to return a non-fixpoint edge set "
        "(components would be silently under-merged)"
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): every strictly-larger neighbor of u hooks to
    m = min(N(u) ∪ {u}). Canonical (u < v) edges in and out. The
    per-node minimum is a map-side-combinable F.min joined back —
    never a collected neighbor list, so a hot node with millions of
    neighbors costs a shuffle, not executor memory."""
    bi = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = bi.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    return (
        bi.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: u and its strictly-smaller neighbors all hook to
    the minimum of that set. Same aggregate+join shape as large-star."""
    bi = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    ble = bi.filter(F.col("v") < F.col("u"))
    mins = ble.groupBy("u").agg(F.min("v").alias("m"))
    hook_self = mins.select(F.col("m").alias("u"), F.col("u").alias("v"))
    hook_nbrs = (
        ble.join(mins, "u")
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    return hook_self.unionByName(hook_nbrs).distinct()


_CC_ORACLE = (
    "WITH RECURSIVE "
    + _LSH_PRELUDE_BODY
    + ", "
    + _PAIRS_SQL.format(thr=0.05)
    + ", edges AS MATERIALIZED ("
    "SELECT doc_a AS src, doc_b AS dst FROM ndpairs "
    "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ndpairs), "
    "reach AS (SELECT src AS doc_id, src AS v FROM edges "
    "UNION SELECT r.doc_id, e.dst AS v FROM reach r "
    "JOIN edges e ON e.src = r.v) "
    "SELECT doc_id, min(v) AS cluster_id FROM reach GROUP BY doc_id"
)


@register(
    "dedup_cluster_cc",
    oracle=_CC_ORACLE,
    doc=(
        "Connected-components near-dup CLUSTERING, iterated to "
        "FIXPOINT: min-label propagation + pointer-jumping compression "
        "over the verified LSH pair graph, looping until the label sum "
        "stops changing (labels are monotonically non-increasing, so "
        "an unchanged sum IS convergence — one cheap scalar agg per "
        "round instead of a change-count join). Fixes the greedy "
        "survivor rule's transitive-cluster trap (A~B, B~C, A≁C: C "
        "must join A's cluster, not orphan); cluster_id = component's "
        "min doc_id, pinned against union-find ground truth by the "
        "semantic-law test and against a DuckDB WITH RECURSIVE "
        "reachability-closure oracle (exact fixpoint, no unrolling). "
        "Scale shape per round: one join keyed by dst + one groupBy + "
        "one self-join on lbl — all partition-bounded; labels are "
        "localCheckpoint'd between rounds (the production persist). "
        "Rounds grow with graph diameter (12 here), so a CROSSOVER "
        "POLICY bounds the depth exposure: after "
        "_CC_LP_CROSSOVER_ROUNDS non-converged rounds the graph is "
        "contracted by the partial labels (edges between distinct "
        "labels, a shrinking distinct) and the O(log²)-round "
        "alternating-star algorithm finishes on the contracted label "
        "graph; final labels compose doc->lbl->root. Equality of the "
        "two paths is pinned by a forced-crossover test; the min-label "
        "invariant survives contraction because every partial label is "
        "a component member and the component minimum always labels "
        "itself."
    ),
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_cc_crossover(spark, sf_dir, _CC_LP_CROSSOVER_ROUNDS)


def _cluster_cc_crossover(
    spark: SparkSession, sf_dir: str, lp_rounds: int
) -> DataFrame:
    # Checkpoint the verified-pair tail once (r16 review; cc_star's
    # discipline). Measured A/B at sf0.1: a WASH warm — ReuseExchange
    # already dedupes the twice-read unionAll branches — so this buys
    # lineage robustness (no LSH replay on executor loss) and
    # consistency, not wall-clock.
    pairs = _near_dup_pairs(spark, sf_dir, 0.05).localCheckpoint()
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    with _state_sized_shuffle(spark, edges.count()):
        lab, converged = _label_prop_rounds(edges, lp_rounds)
        if not converged:
            # Contract by partial labels: the label graph is far
            # smaller than the doc graph (label-prop has already
            # collapsed everything within lp_rounds hops), and the
            # star algorithm bounds the remaining depth at O(log²).
            lsrc = lab.select(
                F.col("doc_id").alias("src"), F.col("lbl").alias("_lu")
            )
            ldst = lab.select(
                F.col("doc_id").alias("dst"), F.col("lbl").alias("_lv")
            )
            contracted = (
                edges.join(lsrc, "src")
                .join(ldst, "dst")
                .filter(F.col("_lu") != F.col("_lv"))
                .select(
                    F.least("_lu", "_lv").alias("u"),
                    F.greatest("_lu", "_lv").alias("v"),
                )
                .distinct()
                .localCheckpoint()
            )
            stars = _star_fixpoint(contracted)
            roots = stars.select(
                F.col("v").alias("lbl"), F.col("u").alias("_root")
            )
            # Eager checkpoint INSIDE the width context: the closing
            # label join is lazy, and the caller's action runs after
            # the finally restores the conf — materializing here is
            # what actually executes it at the hand-sized width
            # (r16; previously it ran at the session default).
            lab = (
                lab.join(roots, "lbl", "left")
                .groupBy("doc_id")
                .agg(F.min(F.coalesce("_root", "lbl")).alias("lbl"))
                .localCheckpoint()
            )
    return lab.select("doc_id", F.col("lbl").alias("cluster_id"))


@register(
    "dedup_cluster_cc_star",
    oracle=_CC_ORACLE,
    doc=(
        "Alternating large-star/small-star connected components "
        "(Kiveris et al., 'Connected Components in MapReduce and "
        "Beyond') over the same verified LSH pair graph — the "
        "adversarial-depth scale path: O(log²) rounds provably (5-6 "
        "measured vs 12 for label propagation), each star one "
        "map-side-combinable min aggregate + one same-key join, no "
        "collected neighbor lists (hot nodes cost a shuffle, never "
        "executor memory). Convergence = unchanged (count, Σu, Σv) "
        "edge signature. Same oracle and same union-find-pinned "
        "semantics as dedup_cluster_cc; locally the label-propagation "
        "variant wins (fewer jobs per round) — at 100 TB on deep "
        "graphs this one does."
    ),
)
def dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Checkpoint the verified-pair tail ONCE: verts and edges both
    # derive from it (r16 — previously each re-ran the LSH
    # candidate+verify joins through its own lineage).
    pairs = _near_dup_pairs(spark, sf_dir, 0.05).localCheckpoint()
    verts = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).distinct().localCheckpoint()
    with _state_sized_shuffle(spark, edges.count()):
        edges = _star_fixpoint(edges)
        # fixpoint edges form stars (root=u → member=v); roots label
        # themselves, as do vertices whose edges all collapsed away.
        # Eager checkpoint INSIDE the width context so the closing
        # label join/groupBy run at the hand-sized width (r16).
        members = edges.select(
            F.col("v").alias("doc_id"), F.col("u").alias("_root")
        )
        labels = (
            verts.join(members, "doc_id", "left")
            .groupBy("doc_id")
            .agg(F.min("_root").alias("_root"))
            .localCheckpoint()
        )
    return labels.select(
        "doc_id",
        F.coalesce(F.col("_root"), F.col("doc_id")).alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph (canonical-document scoring)
# ---------------------------------------------------------------------------

_PR_UNITS = 1_000_000  # fixed-point rank units: exact BIGINT arithmetic


def _pagerank_oracle() -> str:
    base = 15 * _PR_UNITS // 100
    # CAST back to BIGINT at every step: DuckDB SUM(BIGINT) widens to
    # HUGEINT (int128), which the driver hasher must never see (the
    # round-1 hash-fail class — scripts/type_sweep.py flags it).
    it = (
        "c{i} AS (SELECT e.dst AS doc_id, "
        "CAST(SUM(p.pr // p.deg) AS BIGINT) AS s "
        "FROM edges e JOIN p{j} p ON p.doc_id = e.src GROUP BY e.dst), "
        "p{i} AS (SELECT n.doc_id, n.deg, "
        f"CAST({base} + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS pr "
        "FROM nodes n LEFT JOIN c{i} c ON c.doc_id = n.doc_id)"
    )
    from duckdb_data_eng_proj_spark.queries.training import _LSH_PRELUDE

    return (
        _LSH_PRELUDE
        + ", "
        + _PAIRS_SQL.format(thr=0.05)
        + ", edges AS MATERIALIZED ("
        "SELECT doc_a AS src, doc_b AS dst FROM ndpairs "
        "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ndpairs), "
        "nodes AS (SELECT src AS doc_id, COUNT(*) AS deg "
        "FROM edges GROUP BY src), "
        f"p0 AS (SELECT doc_id, deg, CAST({_PR_UNITS} AS BIGINT) AS pr "
        "FROM nodes), "
        + it.format(i=1, j=0)
        + ", "
        + it.format(i=2, j=1)
        + " SELECT doc_id, pr AS pagerank_units FROM p2"
    )


@register(
    "ml_pagerank_2iter",
    oracle=_pagerank_oracle(),
    doc=(
        "PageRank (2 unrolled iterations, damping 0.85) over the "
        "verified near-dup pair graph — ranks the canonical document "
        "inside each duplicate cluster by link mass. All arithmetic is "
        "fixed-point BIGINT (rank units of 1e-6, integer div for "
        "share-splitting and damping), so the result is EXACT and "
        "engine-independent — the same trick that makes ml_kmeans_2iter "
        "and the money math hash-verifiable; float PageRank would "
        "diverge across engines on summation order alone. Per "
        "iteration: one join keyed by src + one groupBy dst — the "
        "identical shuffle shape as a cluster-scale Pregel superstep; "
        "the fixpoint variant loops exactly like dedup_cluster_cc "
        "(localCheckpoint per round, scalar convergence agg)."
    ),
)
def ml_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Checkpoint the verified-pair tail once (r16 review; cc_star's
    # discipline — measured a warm WASH at sf0.1 since ReuseExchange
    # dedupes the unionAll branches; kept for lineage robustness).
    pairs = _near_dup_pairs(spark, sf_dir, 0.05).localCheckpoint()
    # Graph tables feed every iteration — localCheckpoint once (the
    # same per-round persist discipline as dedup_cluster_cc) so the
    # LSH pair derivation never replays inside the unrolled plan.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    nodes = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    base = 15 * _PR_UNITS // 100
    pr = nodes.withColumn("pr", F.lit(_PR_UNITS).cast("long"))
    for _ in range(2):
        contrib = (
            edges.join(pr.withColumnRenamed("doc_id", "src"), "src")
            .select("dst", F.expr("pr div deg").alias("share"))
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("share").alias("s"))
        )
        pr = nodes.join(contrib, "doc_id", "left").select(
            "doc_id",
            "deg",
            (
                F.lit(base)
                + F.expr("85 * coalesce(s, 0) div 100")
            ).alias("pr"),
        )
    return pr.select("doc_id", F.col("pr").alias("pagerank_units"))


_REP_CTES = (
    "repb AS (SELECT doc_id, len(tk) AS n, len(list_distinct(tk)) AS nu "
    "FROM toks), "
    "repg AS (SELECT b.doc_id, array_to_string(t2.tk[i:i+1], ' ') AS g "
    "FROM repb b JOIN toks t2 USING (doc_id), "
    "unnest(generate_series(1, greatest(b.n - 1, 0))) AS t(i)), "
    "repc AS (SELECT doc_id, g, COUNT(*) AS c FROM repg GROUP BY doc_id, g), "
    "rept AS (SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS total "
    "FROM repc GROUP BY doc_id), "
    "rep AS (SELECT b.doc_id, "
    "CAST(round(CAST(CAST(1.0 - CAST(b.nu AS DOUBLE) / nullif(b.n, 0) "
    "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS dupf, "
    "CAST(round(CAST(CAST(CAST(t.top_c AS DOUBLE) / nullif(t.total, 0) "
    "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS topf "
    "FROM repb b LEFT JOIN rept t ON b.doc_id = t.doc_id)"
)

_SPLIT_SQL = (
    "CASE WHEN CAST('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)), 1, 4) "
    "AS INT) % 100 < 90 THEN 'train' "
    "WHEN CAST('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)), 1, 4) "
    "AS INT) % 100 < 95 THEN 'valid' ELSE 'test' END"
)


@register(
    "pipe_corpus_clean_v2",
    oracle=(
        f"{_LSH_PRELUDE}, "
        + _LOSERS_SQL.format(thr=0.05)
        + f", {_QL_CTE}, {_REP_CTES}, "
        "kept AS (SELECT q.* FROM ql q "
        "JOIN rep r ON q.doc_id = r.doc_id "
        "LEFT JOIN losers l ON q.doc_id = l.doc_id "
        "WHERE q.quality_score >= 0.5 AND (" + _LANG_PRED_SQL + ") = 'en' "
        "AND r.dupf <= 0.6 AND r.topf <= 0.06 "
        "AND l.doc_id IS NULL "
        "QUALIFY row_number() OVER (PARTITION BY q.fingerprint "
        "ORDER BY q.doc_id) = 1) "
        f"SELECT doc_id, n_tokens, quality_score, {_SPLIT_SQL} AS split "
        "FROM kept"
    ),
    doc=(
        "The FULL modern pretraining pipeline in one lazy plan: "
        "quality score → language id → repetition filters (Gopher "
        "duplicate-token + top-bigram fractions) → exact dedup "
        "(fingerprint keep-first) → LSH near-dup removal → leakage-safe "
        "train/valid/test split. Extends pipe_corpus_clean with the "
        "repetition and split stages; cheapest filters still run "
        "first, every stage reuses a verified standalone operator, and "
        "the whole chain remains one Catalyst plan (no intermediate "
        "materialization) — at 100 TB the filters fuse into the corpus "
        "scan and only survivors reach the hash/shuffle stages."
    ),
)
def pipe_corpus_clean_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from duckdb_data_eng_proj_spark.queries.training import (
        txt_fingerprint,
        txt_lang_id,
        txt_quality_score,
        txt_rep_signals,
    )

    quality = txt_quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    lang = txt_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    fp = txt_fingerprint(spark, sf_dir).select("doc_id", "fingerprint")
    rep = txt_rep_signals(spark, sf_dir)
    losers = _near_dup_losers(spark, sf_dir, 0.05)

    kept = (
        quality.join(lang, "doc_id")
        .join(rep, "doc_id")
        .join(fp, "doc_id")
        .filter(
            (F.col("quality_score") >= 0.5)
            & (F.col("pred_lang") == "en")
            & (F.col("dup_token_frac") <= 0.6)
            & (F.col("top_bigram_frac") <= 0.06)
        )
        .join(losers, "doc_id", "left_anti")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    bucket = doc_bucket100(F.col("doc_id"))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    )
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens", "quality_score", split.alias("split"))
    )
