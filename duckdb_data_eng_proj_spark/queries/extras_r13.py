"""Round-13 operators: the three gaps the r13 analysis grep (VERDICT
r12 item 4's candidate list, tested against the 268-id registry)
confirmed are genuinely uncovered — each a distinct ANALYSIS, not a
new id over a covered one:

- txt_hybrid_rrf — HYBRID RETRIEVAL FUSION: reciprocal-rank-fuse the
  lexical (token-overlap) and semantic (IVF cosine) top-k lists for
  the same query documents. txt_bm25_topk ranks docs against KEYWORD
  queries; sim_ann_ivf_search ranks by embedding alone; no registry
  op COMBINES the two retrieval halves — the fusion step every hybrid
  search stack ships (and the reason both halves were built) is
  computed nowhere. Rank arithmetic is pure integer (1e6 DIV (60+rk)),
  so the fused scores are cross-engine exact even though one input
  ordering comes from doubles (identical expression trees, the
  sim_ann_ivf_search precedent).
- txt_bpe_apply — BPE TRAIN-AND-ENCODE: learn the first K=3 merges
  over the word-frequency vocabulary (recomputing pair statistics
  between merges — true BPE training, not top-K-of-round-1) and APPLY
  each merge with the greedy left-to-right non-overlapping pass,
  reporting the merge table and the corpus token count after every
  round. txt_bpe_merge_round computes ONE round's pair statistics and
  applies nothing; this is the tokenize-for-training counterpart (the
  learned artifact actually encoding text). The apply step is a
  per-word sequential fold — expressed as the same left fold in both
  engines (F.aggregate / list_reduce) over unit-separator strings, so
  the greedy merge semantics are bit-identical.
- ext_stream_dedup_admit — STREAMING NEAR-DUP ADMISSION: the
  dedup_minhash_incremental verdict executed as a real Structured
  Streaming flow — two micro-batches (availableNow,
  maxFilesPerTrigger=1) checked inside foreachBatch against the
  PERSISTED corpus LSH index, with the intra-batch rule applied
  WITHIN each micro-batch. The batch op proves the analysis; this
  proves the streaming mechanics (per-batch verdict jobs against a
  checkpointed index, state accumulated across triggers) with an
  oracle that replays the exact same admission in SQL. The
  micro-batch split is doc_id parity, so verdicts are independent of
  BATCH ARRIVAL ORDER (the replay-determinism requirement): dup_batch
  pairs only form within one parity class, never across.

Rejected this grep (recorded per the §9.0b near-dup rule):
txt_bm25_feedback (pseudo-relevance feedback re-ranking — the
analysis is txt_hybrid_rrf's fusion with one list derived from the
other; build the orthogonal fusion first), vec_opq_rotation (learned
rotation before PQ — the train/encode machinery is vec_pq_codebook's
with an extra linear algebra step that has no exact cross-engine
story), stream_quality_gate (ext_quality_ensemble inside foreachBatch
— identical analysis to ext_stream_dedup_admit with a different
scoring body; one streaming-admission pattern proves the mechanics).

Reference parity: the reference (a DuckDB loan-ETL take-home,
pipeline.py / queries.sql) has none of these; they extend the
retrieval / tokenization / streaming-ingest families per the build
charter. All follow the repo determinism rules (registry.py): exact
integer counts, identical fully-parenthesized double trees where
doubles are unavoidable, deterministic tie-breaks, aliased column
names matching the oracle exactly.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.lsh import (
    band_table,
    bucket_pairs,
    shingle_sets,
)
from duckdb_data_eng_proj_spark.operators.textops import tokens
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import (
    _ASSIGN_CTES,
    _dot_sql,
    _ivf_parts,
    _LSH_PRELUDE,
    _TOKS_CTE,
)
from duckdb_data_eng_proj_spark.queries.extras_r11 import (
    _INC_JACCARD,
    _INC_VERIFY_SQL,
)

# ---------------------------------------------------------------------------
# txt_hybrid_rrf

_RRF_K = 60  # the standard RRF damping constant
_RRF_LIST_K = 10  # depth of each input list
_RRF_OUT_K = 5  # fused results per query
_RRF_NQ = 10  # query documents: doc_id/vec_id < 10 (ivf_search's set)

# Integer reciprocal-rank contribution: 1e6 DIV (60 + rank). Both
# engines floor-divide BIGINTs, so fusion is exact — the only doubles
# anywhere are inside each half's own (already-verified) ordering.


def _rrf_term_sql(rk: str) -> str:
    return (
        f"CASE WHEN {rk} IS NOT NULL "
        f"THEN 1000000 // ({_RRF_K} + CAST({rk} AS BIGINT)) ELSE 0 END"
    )


@register(
    "txt_hybrid_rrf",
    oracle=(
        f"WITH {_ASSIGN_CTES}, "
        # --- semantic half: sim_ann_ivf_search's probe search, k=10
        "probes AS (SELECT query_id, centroid_id FROM ("
        "SELECT q.vec_id AS query_id, c.centroid_id, row_number() OVER ("
        "PARTITION BY q.vec_id ORDER BY "
        f"{_dot_sql('q.embedding', 'c.c_emb')} / (q.nrm * c.c_nrm) DESC, "
        "c.centroid_id) AS prn "
        f"FROM e q CROSS JOIN cent c WHERE q.vec_id < {_RRF_NQ} "
        "AND q.nrm > 0) "
        "WHERE prn <= 4), "
        "cand AS (SELECT p.query_id, a.vec_id AS neighbor_id FROM probes p "
        "JOIN assign a ON a.centroid_id = p.centroid_id "
        "WHERE a.vec_id <> p.query_id), "
        "sscored AS (SELECT c.query_id, c.neighbor_id, "
        f"{_dot_sql('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cos_raw "
        "FROM cand c JOIN e q ON q.vec_id = c.query_id "
        "JOIN e n ON n.vec_id = c.neighbor_id), "
        "sem AS (SELECT query_id, neighbor_id AS doc_id, rk FROM ("
        "SELECT query_id, neighbor_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rk "
        f"FROM sscored) WHERE rk <= {_RRF_LIST_K}), "
        # --- lexical half: distinct-token overlap, k=10
        f"{_TOKS_CTE}, "
        "occ AS (SELECT DISTINCT doc_id, u.tkn AS token FROM "
        "(SELECT doc_id, unnest(tk) AS tkn FROM toks) u), "
        "lshared AS (SELECT q.doc_id AS query_id, d.doc_id AS doc_id, "
        "CAST(COUNT(*) AS BIGINT) AS shared "
        f"FROM occ q JOIN occ d ON d.token = q.token "
        f"WHERE q.doc_id < {_RRF_NQ} AND d.doc_id <> q.doc_id "
        "GROUP BY q.doc_id, d.doc_id), "
        "lex AS (SELECT query_id, doc_id, rk FROM ("
        "SELECT query_id, doc_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY shared DESC, doc_id) AS rk "
        f"FROM lshared) WHERE rk <= {_RRF_LIST_K}), "
        # --- integer RRF fusion
        "fused AS (SELECT COALESCE(s.query_id, l.query_id) AS query_id, "
        "COALESCE(s.doc_id, l.doc_id) AS doc_id, "
        "CAST(COALESCE(s.rk, 0) AS BIGINT) AS sem_rk, "
        "CAST(COALESCE(l.rk, 0) AS BIGINT) AS lex_rk, "
        f"CAST(({_rrf_term_sql('s.rk')}) + ({_rrf_term_sql('l.rk')}) "
        "AS BIGINT) AS rrf_u "
        "FROM sem s FULL OUTER JOIN lex l "
        "ON l.query_id = s.query_id AND l.doc_id = s.doc_id) "
        "SELECT query_id, doc_id, sem_rk, lex_rk, rrf_u, rank FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY rrf_u DESC, doc_id) AS rank FROM fused) "
        f"WHERE rank <= {_RRF_OUT_K}"
    ),
    doc=(
        "HYBRID RETRIEVAL FUSION — reciprocal-rank fusion (k=60) of "
        "the two retrieval halves the registry already verifies "
        "separately: per query document (vec_id/doc_id < 10, the "
        "sim_ann_ivf_search workload), the SEMANTIC top-10 from the "
        "IVF probe search (nprobe=4, cosine ordering on identical "
        "double trees) and the LEXICAL top-10 by distinct-token "
        "overlap (exact integer shared-token counts over the postings "
        "join). Fusion is rrf_u = Σ 1e6 DIV (60 + rank) over the "
        "lists an item appears in — BIGINT floor-division, so the "
        "fused ordering is cross-engine exact; ties break on doc_id; "
        "a list miss contributes 0 and reports rank 0. Scale shape: "
        "the semantic half is ONE corpus pass (map-side packed-"
        "centroid argmax + broadcast probe join — sim_ann_ivf_search's "
        "plan); the lexical half BROADCASTS the query-token set "
        "(bounded by the query workload, like the probe list) onto a "
        "map-side postings join — the corpus's (doc_id, token) pairs "
        "never shuffle by token; the only exchange is the "
        "count-distinct over pairs that already matched a query token "
        "(selectivity-sized; production adds a document-frequency "
        "cutoff to cap the hottest posting lists — the "
        "dedup_ngram_jaccard DF-cutoff pattern); fusion itself "
        "touches only two |Q|×k ranked lists "
        "— broadcast-trivial. The fused lists feed the same top-k "
        "window as each half. At 100 TB nothing beyond the two "
        "candidate stages moves: fusion adds zero corpus work."
    ),
    tags=("text", "retrieval"),
)
def txt_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # --- semantic half (sim_ann_ivf_search's plan, k=10) -------------
    from duckdb_data_eng_proj_spark.operators.vectors import (
        dot,
        pack_centroids,
        scored_centroids,
    )

    en, cent, _ = _ivf_parts(spark, sf_dir)
    q = en.filter((F.col("vec_id") < _RRF_NQ) & (F.col("nrm") > 0))
    packed = pack_centroids(cent, cid="centroid_id", emb="c_emb", nrm="c_nrm")
    probes = (
        q.crossJoin(F.broadcast(packed))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.explode(
                F.slice(
                    F.array_sort(
                        scored_centroids(
                            F.col("_cents"), F.col("embedding"), F.col("nrm")
                        )
                    ),
                    1,
                    4,
                )
            ).alias("_p"),
        )
        .select(
            "query_id", "q_emb", "q_nrm", F.col("_p")["cid"].alias("centroid_id")
        )
    )
    corpus = en.filter(F.col("nrm") > 0).crossJoin(F.broadcast(packed)).select(
        "vec_id",
        "embedding",
        "nrm",
        F.array_min(
            scored_centroids(F.col("_cents"), F.col("embedding"), F.col("nrm"))
        )["cid"].alias("centroid_id"),
    )
    cos = dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * F.col("nrm")
    )
    sscored = (
        corpus.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("doc_id"), cos.alias("cos_raw")
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("doc_id")
    )
    sem = (
        sscored.withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= _RRF_LIST_K)
        .select("query_id", "doc_id", F.col("rk").alias("sem_rk0"))
    )

    # --- lexical half: distinct-token overlap, k=10 -------------------
    # The query-token set is bounded by the query workload (10 docs),
    # so broadcast it and keep the corpus-side postings MAP-SIDE: the
    # r13 shape shuffled every distinct (doc_id, token) pair by token
    # just to meet 10 documents' tokens. Here the only corpus exchange
    # left is the (query_id, doc_id) count-distinct over rows that
    # already matched a query token — selectivity-sized, not
    # postings-sized (r15 bisect; equal output, plan-tested).
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    raw = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    qocc = (
        raw.filter(F.col("doc_id") < _RRF_NQ)
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    lshared = (
        raw.join(F.broadcast(qocc), "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("token").cast("bigint").alias("shared"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("shared"), F.asc("doc_id")
    )
    lex = (
        lshared.withColumn("rk", F.row_number().over(wl))
        .filter(F.col("rk") <= _RRF_LIST_K)
        .select("query_id", "doc_id", F.col("rk").alias("lex_rk0"))
    )

    # --- integer RRF fusion -------------------------------------------
    fused = (
        sem.join(lex, ["query_id", "doc_id"], "full")
        .select(
            "query_id",
            "doc_id",
            F.coalesce(F.col("sem_rk0"), F.lit(0)).cast("bigint").alias("sem_rk"),
            F.coalesce(F.col("lex_rk0"), F.lit(0)).cast("bigint").alias("lex_rk"),
            (
                F.coalesce(
                    F.expr(
                        f"1000000 DIV ({_RRF_K} + CAST(sem_rk0 AS BIGINT))"
                    ),
                    F.lit(0),
                )
                + F.coalesce(
                    F.expr(
                        f"1000000 DIV ({_RRF_K} + CAST(lex_rk0 AS BIGINT))"
                    ),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("rrf_u"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf_u"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _RRF_OUT_K)
        .select("query_id", "doc_id", "sem_rk", "lex_rk", "rrf_u", "rank")
    )


# ---------------------------------------------------------------------------
# txt_bpe_apply

_BPE_ROUNDS = 3
# Unit separator between symbols inside the fold accumulator; tokens
# are whitespace-split so chr(31) cannot occur inside one, but both
# engines filter defensively anyway (identical predicate).
_BPE_US = "chr(31)"


def _bpe_fold_sql(a_expr: str, b_expr: str) -> str:
    """Greedy left-to-right non-overlapping merge of adjacent pair
    (a, b) -> a||b over symbol list ``s``, as a string fold.

    Symbols are accumulated as chr(31)-separated text; merging is
    'append x WITHOUT the separator' (the merged symbol is literally
    a||b). ends_with(acc, US||a) is true iff the PREVIOUS symbol is
    exactly ``a`` — a symbol just produced by this merge is a||b ≠ a,
    so a merged symbol never re-merges (the Sennrich single-pass
    rule; verified identical to the Spark F.aggregate fold on 'abab'
    and the overlapping 'aaa' cases)."""
    return (
        f"string_split(substr(list_reduce(list_prepend('', s), "
        f"(acc, x) -> acc || (CASE WHEN x = {b_expr} "
        f"AND ends_with(acc, {_BPE_US} || {a_expr}) "
        f"THEN '' ELSE {_BPE_US} END) || x), 2), chr(31))"
    )


def _bpe_fold_col() -> F.Column:
    """Spark mirror of _bpe_fold_sql over columns (s, a, b) — the
    exact spelling the op ships, shared with the cross-engine fuzz
    (tests/test_bpe_fold_fuzz.py) so the fuzz can't drift from
    production."""
    return F.split(
        F.expr(
            "substring(aggregate(s, '', (acc, x) -> "
            "concat(acc, CASE WHEN x = b "
            "AND endswith(acc, concat(chr(31), a)) "
            "THEN '' ELSE chr(31) END, x)), 2)"
        ),
        "\x1f",
    )


def _bpe_oracle() -> str:
    parts = [
        f"WITH {_TOKS_CTE}, ",
        "v0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c, "
        "string_split(w, '') AS s FROM "
        "(SELECT unnest(tk) AS w FROM toks) "
        "WHERE NOT contains(w, chr(31)) GROUP BY w)",
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        prev = f"v{r - 1}"
        parts.append(
            # scalar range() + list_transform + unnest: DuckDB 1.0's
            # range TABLE function rejects lateral column parameters.
            f", p{r} AS (SELECT q.pr.a AS a, q.pr.b AS b, "
            f"CAST(SUM(q.c) AS BIGINT) AS f "
            f"FROM (SELECT c, unnest(list_transform(range(1, len(s)), "
            f"i -> {{'a': s[i], 'b': s[i+1]}})) AS pr FROM {prev}) q "
            f"GROUP BY q.pr.a, q.pr.b)"
            f", m{r} AS (SELECT a, b, f FROM p{r} "
            f"ORDER BY f DESC, a, b LIMIT 1)"
            f", v{r} AS (SELECT w, c, {_bpe_fold_sql('m.a', 'm.b')} AS s "
            f"FROM {prev}, m{r} m)"
            f", st{r} AS (SELECT CAST(SUM(c * len(s)) AS BIGINT) AS toks "
            f"FROM v{r})"
        )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, a AS sym_a, b AS sym_b, "
        f"f AS pair_freq, toks AS tokens_after FROM m{r}, st{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ]
    parts.append(" " + " UNION ALL ".join(selects))
    return "".join(parts)


@register(
    "txt_bpe_apply",
    oracle=_bpe_oracle(),
    doc=(
        "BPE TRAIN-AND-ENCODE — learn the first 3 merges over the "
        "word-frequency vocabulary and APPLY each one, re-counting "
        "pair statistics between merges (true BPE training: round r's "
        "statistics are computed on round r-1's ENCODED symbols, not "
        "on round-1 state — txt_bpe_merge_round computes exactly one "
        "round's statistics and applies nothing). Per round: the "
        "occurrence-weighted adjacent-pair aggregate over the vocab, "
        "the argmax merge (freq DESC, pair lexicographic — "
        "deterministic), the greedy left-to-right non-overlapping "
        "merge application as a per-word string fold (identical "
        "F.aggregate / list_reduce lambdas — merged symbols never "
        "re-merge within a pass, the Sennrich rule), and the corpus "
        "token count after the merge (Σ count·|symbols|). Output: one "
        "row per round (merge pair, its frequency, tokens_after). "
        "Scale shape: the corpus is scanned ONCE to build the "
        "(word, count) vocabulary — the classic BPE trainer input — "
        "and every round thereafter is VOCABULARY-sized: a pair "
        "aggregate, a 1-row eagerly-checkpointed broadcast (the merge "
        "rule), and a map-side fold. At 100 TB the corpus cost is one "
        "tokenize pass; 3 rounds or 50k rounds differ only in "
        "vocab-sized work. Encoding the full corpus with the learned "
        "table is the same fold applied per document — map-only."
    ),
    tags=("text",),
)
def txt_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    us = "\x1f"
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(~F.col("w").contains(us))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select("w", "c", F.split("w", "").alias("s"))
        # vocab feeds every round (pair stats + fold) — one corpus
        # pass, materialized once (the iterative-family barrier).
        .localCheckpoint(eager=True)
    )

    rows = []
    v = vocab
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            # size guard BEFORE the transform: F.sequence(1, 0) counts
            # BACKWARDS (the word_ngrams lesson) — single-symbol words
            # contribute no pairs, exactly like the oracle's empty
            # range(1, 1).
            v.filter(F.size("s") >= 2)
            .select(
                "c",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1), "
                        "i -> struct(element_at(s, i) AS a, "
                        "element_at(s, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "c")
            .groupBy("a", "b")
            .agg(F.sum("c").cast("bigint").alias("f"))
        )
        # 1-row merge rule: eagerly checkpointed so the pair aggregate
        # runs as a normal job, never inside the broadcast future
        # below (audit_broadcast_subtrees r13).
        m = (
            pairs.orderBy(F.desc("f"), F.asc("a"), F.asc("b"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        applied = v.crossJoin(F.broadcast(m)).select(
            "w", "c", _bpe_fold_col().alias("s")
        )
        # per-round barrier: round r+1's statistics read these encoded
        # symbols, and the tokens_after aggregate reads them too.
        v = applied.localCheckpoint(eager=True)
        st = v.agg(
            F.sum(F.col("c") * F.size("s")).cast("bigint").alias("tokens_after")
        )
        rows.append(
            m.crossJoin(F.broadcast(st)).select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.col("f").alias("pair_freq"),
                "tokens_after",
            )
        )
    out = rows[0]
    for r_df in rows[1:]:
        out = out.unionByName(r_df)
    return out


# ---------------------------------------------------------------------------
# ext_stream_dedup_admit


def _admit_build_index(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """The persisted index: bands + verification shingle sets for the
    already-admitted corpus (doc_id % 3 <> 0). Eagerly checkpointed
    ONCE before the stream starts — per-trigger jobs read the
    materialized RDDs, never the signature pipeline (and no join
    pipeline ever sits under the per-batch broadcast futures).
    Extracted so tests can assert the materialization property on the
    index tables themselves (tests/test_plan_shape.py). The caller may
    pass its docs DF so the source table is defined exactly once
    across the op (ADVICE r14)."""
    if docs is None:
        docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    idx_bands = band_table(
        shingle_sets(ensure_parallelism(corpus))
    ).localCheckpoint(eager=True)
    idx_bg = (
        shingle_sets(ensure_parallelism(corpus))
        .select(F.col("doc_id").alias("_idb"), F.col("bg").alias("bg_b"))
        .localCheckpoint(eager=True)
    )
    return idx_bands, idx_bg


@register(
    "ext_stream_dedup_admit",
    oracle=(
        f"{_LSH_PRELUDE}, "
        "idx AS (SELECT doc_id, band, bucket FROM bands "
        "WHERE doc_id % 3 <> 0 AND bucket IS NOT NULL), "
        "nw AS (SELECT doc_id, band, bucket FROM bands "
        "WHERE doc_id % 3 = 0 AND bucket IS NOT NULL), "
        "cc AS (SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS old_id "
        "FROM nw n JOIN idx i ON n.band = i.band AND n.bucket = i.bucket), "
        "vc AS (SELECT c.new_id, c.old_id FROM cc c "
        "JOIN bg a ON a.doc_id = c.new_id "
        "JOIN bg b ON b.doc_id = c.old_id "
        f"WHERE {_INC_VERIFY_SQL} >= {_INC_JACCARD}), "
        # intra-batch pairs form only within one micro-batch — and the
        # stream splits on doc_id parity, so the pair predicate is
        # same-parity (see doc: batch-order invariance).
        "cb AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
        "FROM nw x JOIN nw y ON x.band = y.band AND x.bucket = y.bucket "
        "AND x.doc_id < y.doc_id AND x.doc_id % 2 = y.doc_id % 2), "
        "vb AS (SELECT c.doc_a, c.doc_b FROM cb c "
        "JOIN bg a ON a.doc_id = c.doc_a "
        "JOIN bg b ON b.doc_id = c.doc_b "
        f"WHERE {_INC_VERIFY_SQL} >= {_INC_JACCARD}), "
        "mc AS (SELECT new_id, CAST(MIN(old_id) AS BIGINT) AS pc "
        "FROM vc GROUP BY new_id), "
        "mb AS (SELECT doc_b AS new_id, CAST(MIN(doc_a) AS BIGINT) AS pb "
        "FROM vb GROUP BY doc_b) "
        "SELECT d.doc_id, "
        "CASE WHEN mc.pc IS NOT NULL THEN 'dup_corpus' "
        "WHEN mb.pb IS NOT NULL THEN 'dup_batch' "
        "ELSE 'admit' END AS verdict, "
        "CAST(COALESCE(mc.pc, mb.pb, -1) AS BIGINT) AS partner_id "
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d "
        "LEFT JOIN mc ON mc.new_id = d.doc_id "
        "LEFT JOIN mb ON mb.new_id = d.doc_id"
    ),
    doc=(
        "STREAMING NEAR-DUP ADMISSION — dedup_minhash_incremental's "
        "verdict as a REAL Structured Streaming flow: the incoming "
        "docs (doc_id % 3 = 0) arrive as two parquet micro-batches "
        "(doc_id parity split, maxFilesPerTrigger=1, availableNow), "
        "and each foreachBatch computes that batch's MinHash bands, "
        "joins them against the PERSISTED corpus index (doc_id % 3 <> "
        "0 — built once, eagerly checkpointed before the stream "
        "starts, exactly the table prior runs would have written), "
        "bigram-verifies candidates, applies the intra-BATCH greedy "
        "min-id rule within the micro-batch, and appends verdict rows "
        "to the accumulator. Verdicts are BATCH-ORDER INVARIANT by "
        "construction: cross-batch stream pairs are never consulted "
        "(dup_batch forms only within one parity class), so replaying "
        "the files in any order yields identical output — the "
        "streaming/batch unification law, and the oracle is literally "
        "the batch admission with the same-parity pair predicate. At "
        "100 TB ingest: the index side is the persisted (band, "
        "bucket, doc_id) table (index-sized, never recomputed per "
        "trigger — here it is checkpointed once for testability); "
        "per-trigger work is batch-bands × index equi-join + "
        "candidate-bounded verification, the same bounded shapes the "
        "batch op pins; admitted rows' bands are what the writer "
        "appends back to the index between triggers."
    ),
    tags=("dedup", "streaming"),
)
def ext_stream_dedup_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    incoming = docs.filter(F.col("doc_id") % 3 == 0)

    idx_bands, idx_bg = _admit_build_index(spark, sf_dir, docs=docs)

    # Two real micro-batches: parity split, one file per trigger.
    src_dir = tempfile.mkdtemp(prefix="dedup_admit_src_")
    for part in (0, 1):
        incoming.filter(F.pmod("doc_id", F.lit(2)) == part).coalesce(
            1
        ).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    inter = F.size(F.array_intersect(F.col("bg_a"), F.col("bg_b")))
    union = F.size(F.col("bg_a")) + F.size(F.col("bg_b")) - inter
    jac_ok = (inter.cast("double") / union) >= _INC_JACCARD

    acc: dict[str, DataFrame | None] = {"df": None}

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.localCheckpoint(eager=True)
        nb = band_table(shingle_sets(batch)).localCheckpoint(eager=True)
        bga = shingle_sets(batch).select(
            F.col("doc_id").alias("_ida"), F.col("bg").alias("bg_a")
        ).localCheckpoint(eager=True)
        n, i = nb.alias("n"), idx_bands.alias("i")
        cc = (
            n.join(
                i,
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.bucket") == F.col("i.bucket")),
            )
            .select(
                F.col("n.doc_id").alias("new_id"),
                F.col("i.doc_id").alias("old_id"),
            )
            .distinct()
        )
        vc = (
            cc.join(bga, cc["new_id"] == bga["_ida"])
            .join(idx_bg, cc["old_id"] == idx_bg["_idb"])
            .filter(jac_ok)
            .groupBy("new_id")
            .agg(F.min("old_id").cast("long").alias("pc"))
        )
        cb = bucket_pairs(nb)
        bgb = bga.select(
            F.col("_ida").alias("_idb2"), F.col("bg_a").alias("bg_b")
        )
        vb = (
            cb.join(bga, cb["doc_a"] == bga["_ida"])
            .join(bgb, cb["doc_b"] == bgb["_idb2"])
            .filter(jac_ok)
            .groupBy("doc_b")
            .agg(F.min("doc_a").cast("long").alias("pb"))
            .withColumnRenamed("doc_b", "new_id")
        )
        verdicts = (
            batch.select("doc_id")
            .join(vc.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
            .join(vb.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("pc").isNotNull(), F.lit("dup_corpus"))
                .when(F.col("pb").isNotNull(), F.lit("dup_batch"))
                .otherwise(F.lit("admit"))
                .alias("verdict"),
                F.coalesce(F.col("pc"), F.col("pb"), F.lit(-1))
                .cast("long")
                .alias("partner_id"),
                # batch tag feeds the one post-stream parity assert —
                # dropped before return (see below; ADVICE r14 moved
                # the per-trigger countDistinct job here).
                F.lit(batch_id).alias("_bid"),
            )
            .localCheckpoint(eager=True)
        )
        acc["df"] = (
            verdicts
            if acc["df"] is None
            else acc["df"].unionByName(verdicts)
        )

    ckpt = tempfile.mkdtemp(prefix="dedup_admit_ckpt_")
    qy = (
        stream.writeStream.foreachBatch(admit_batch)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    out = acc["df"]
    assert out is not None
    # DEFENSIVE: the oracle's same-parity dup_batch predicate is
    # correct only because each micro-batch holds exactly one doc_id
    # parity class (one file per parity write + maxFilesPerTrigger=1).
    # If a batching-semantics change ever coalesces the files, fail
    # LOUDLY here instead of surfacing as an opaque cross-engine hash
    # mismatch. ONE post-stream job over the checkpointed verdicts —
    # not a dedicated job per trigger (ADVICE r13 + r14).
    n_mixed = (
        out.groupBy("_bid")
        .agg(F.countDistinct(F.pmod("doc_id", F.lit(2))).alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    if n_mixed:
        raise AssertionError(
            "ext_stream_dedup_admit: a micro-batch mixed doc_id "
            "parities — the intra-batch pair rule no longer matches "
            "the oracle's same-parity predicate"
        )
    return out.drop("_bid")


# ---------------------------------------------------------------------------
# sim_ann_ivf_repair

# Drift-triggered partial retrain: a cell is REPAIRED when new-corpus
# members (vec_id % 3 = 0, the shared batch convention) exceed 35% of
# its membership — the cells data drift actually moved. Pure-integer
# flag rule: n_new * 1000 >= n_members * 350.
_REPAIR_PERMILLE = 350

from duckdb_data_eng_proj_spark.operators.vectors import (  # noqa: E402
    dot,
    pack_centroids,
    scored_centroids,
)
from duckdb_data_eng_proj_spark.queries.extras_r11 import (  # noqa: E402
    _DOT_SQL,
    _DRIFT_SEED_LIMIT,
    _drift_assign_cte,
    _drift_update_ctes,
)

_REPAIR_COS_OLD = (
    _DOT_SQL.format(a="e.embedding", b="o.c_emb") + " / (e.nrm * o.c_nrm)"
)
_REPAIR_COS_NEW = (
    _DOT_SQL.format(a="e.embedding", b="r.c_emb") + " / (e.nrm * r.c_nrm)"
)


@register(
    "sim_ann_ivf_repair",
    oracle=(
        # fixed-dim contract (r17): the repair update folds hardcode 64
        "WITH e AS (SELECT vec_id, embedding, "
        + f"sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm "
        "FROM embeddings WHERE len(embedding) = 64), "
        "eo AS (SELECT * FROM e WHERE vec_id % 3 <> 0), "
        "cent0 AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm "
        f"FROM e WHERE vec_id < {_DRIFT_SEED_LIMIT} AND vec_id % 3 <> 0), "
        + _drift_assign_cte("a_old", "eo", "cent0")
        + ", "
        + _drift_update_ctes("cold", "a_old")
        + ", "
        + _drift_assign_cte("a_t", "e", "cold")
        + ", "
        "cs AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members, "
        "CAST(SUM(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_new FROM a_t GROUP BY cid), "
        "flg AS (SELECT cid, n_members, n_new FROM cs "
        f"WHERE n_new * 1000 >= n_members * {_REPAIR_PERMILLE}), "
        "a_f AS (SELECT a.vec_id, a.cid FROM a_t a "
        "JOIN flg f ON f.cid = a.cid), "
        + _drift_update_ctes("rep", "a_f")
        + ", "
        "sc AS (SELECT a.cid, "
        f"CAST(SUM(CAST(floor({_REPAIR_COS_OLD} * 1000000) AS BIGINT)) "
        "AS BIGINT) AS cos_old_u, "
        f"CAST(SUM(CAST(floor({_REPAIR_COS_NEW} * 1000000) AS BIGINT)) "
        "AS BIGINT) AS cos_new_u "
        "FROM a_f a JOIN e ON e.vec_id = a.vec_id "
        "JOIN cold o ON o.cid = a.cid "
        "JOIN rep r ON r.cid = a.cid GROUP BY a.cid) "
        "SELECT f.cid, f.n_members, f.n_new, sc.cos_old_u, sc.cos_new_u, "
        "CAST(sc.cos_new_u - sc.cos_old_u AS BIGINT) AS gain_u "
        "FROM flg f JOIN sc ON sc.cid = f.cid ORDER BY f.cid"
    ),
    doc=(
        "DRIFT-TRIGGERED PARTIAL RETRAIN — the REPAIR step that "
        "completes the ANN index lifecycle (sim_ann_ivf builds, "
        "_search probes, _admit appends, sim_ann_index_drift DETECTS, "
        "dedup_band_index_vacuum's sibling story for the vector side: "
        "nothing repaired until now). The persisted stale index (one "
        "Lloyd update over yesterday's corpus from the shared drift "
        "seeds) assigns TODAY's full corpus; cells where new-batch "
        "members exceed 35% of membership (pure-integer flag rule) "
        "are retrained IN PLACE — one Lloyd update restricted to the "
        "flagged cells' members — and each repair is scored: the "
        "summed per-member cosine to the old vs repaired centroid in "
        "exact micro-units (floor per member BEFORE the sum, so the "
        "totals are exact BIGINT) plus the gain. The repaired "
        "centroid is the members' L2 mean — the maximizer of the "
        "summed DOT product, not of summed cosine, so gain_u > 0 is "
        "an empirical property of the data (and law-tested as such), "
        "not a theorem. Determinism: the "
        "ml_iter discipline verbatim (sorted-fold means, sequential-"
        "fold dots, (cos DESC, cid) assignment tie-break). Scale "
        "shape: both assignment passes are map-side packed-centroid "
        "argmax over broadcast centroids — the corpus NEVER shuffles; "
        "the flag table is k rows; the retrain aggregates only "
        "flagged cells' members ((cid, pos) partial agg, bounded by "
        "k x dim); scoring is one pass over flagged members with both "
        "k-row centroid sets broadcast from eager checkpoints. At "
        "100 TB the repair cost is proportional to the DRIFTED cells' "
        "membership, not the index or corpus size — the entire point "
        "of partial retraining; production reads the stale centroids "
        "from the persisted metadata table instead of rebuilding them "
        "(rebuilt here so one registered plan certifies the cycle)."
    ),
    tags=("similarity",),
)
def sim_ann_ivf_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        ensure_parallelism(t(spark, sf_dir, "embeddings"))
        .filter(F.size("embedding") == 64)  # fixed-dim contract (r17)
        .select(
            "vec_id",
            "embedding",
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        )
        .localCheckpoint()
    )
    eo = e.filter(F.col("vec_id") % 3 != 0)
    cent0 = e.filter(
        (F.col("vec_id") < _DRIFT_SEED_LIMIT) & (F.col("vec_id") % 3 != 0)
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )

    # assign/update mirror sim_ann_index_drift's (extras_r11.py:431) —
    # duplicated rather than refactored so the verified drift op's
    # core hash stays untouched.
    def assign(src: DataFrame, cent: DataFrame) -> DataFrame:
        # c_nrm > 0 / nrm > 0 mirror _drift_assign_cte's zero-norm
        # guards (r16) — see that helper's docstring.
        packed = pack_centroids(
            cent.filter(F.col("c_nrm") > 0), cid="cid", emb="c_emb", nrm="c_nrm"
        )
        best = F.array_min(
            scored_centroids(F.col("_cents"), F.col("embedding"), F.col("nrm"))
        )
        return (
            src.filter(F.col("nrm") > 0)
            .crossJoin(F.broadcast(packed))
            .select("vec_id", best["cid"].alias("cid"))
        )

    def update(assigned: DataFrame) -> DataFrame:
        exploded = (
            assigned.join(e, "vec_id")
            .select("cid", F.posexplode(F.col("embedding")).alias("pos", "val"))
            .withColumn("val", F.col("val").cast("double"))
        )
        sorted_sum = F.aggregate(
            F.sort_array(F.collect_list("val")), F.lit(0.0), lambda a, x: a + x
        )
        means = exploded.groupBy("cid", "pos").agg(
            (sorted_sum / F.count("*")).alias("m")
        )
        cent = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c_emb")
        )
        return cent.select(
            "cid",
            "c_emb",
            F.sqrt(dot(F.col("c_emb"), F.col("c_emb"))).alias("c_nrm"),
        )

    # Eager checkpoints on every table a broadcast consumes (the
    # audit rule + the r10 lazily-checkpointed-broadcast race lesson).
    cold = update(assign(eo, cent0)).localCheckpoint()
    a_t = assign(e, cold).localCheckpoint()
    cs = a_t.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("vec_id") % 3 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
    )
    flg = cs.filter(
        F.col("n_new") * F.lit(1000) >= F.col("n_members") * F.lit(_REPAIR_PERMILLE)
    ).localCheckpoint()
    a_f = a_t.join(F.broadcast(flg.select("cid")), "cid")
    rep = update(a_f.select("vec_id", "cid")).localCheckpoint()

    cos_old = dot(F.col("embedding"), F.col("o_emb")) / (
        F.col("nrm") * F.col("o_nrm")
    )
    cos_new = dot(F.col("embedding"), F.col("r_emb")) / (
        F.col("nrm") * F.col("r_nrm")
    )
    sc = (
        a_f.join(e, "vec_id")
        .join(
            F.broadcast(
                cold.select(
                    "cid",
                    F.col("c_emb").alias("o_emb"),
                    F.col("c_nrm").alias("o_nrm"),
                )
            ),
            "cid",
        )
        .join(
            F.broadcast(
                rep.select(
                    "cid",
                    F.col("c_emb").alias("r_emb"),
                    F.col("c_nrm").alias("r_nrm"),
                )
            ),
            "cid",
        )
        .select(
            "cid",
            F.floor(cos_old * F.lit(1000000)).cast("bigint").alias("ou"),
            F.floor(cos_new * F.lit(1000000)).cast("bigint").alias("nu"),
        )
        .groupBy("cid")
        .agg(
            F.sum("ou").cast("bigint").alias("cos_old_u"),
            F.sum("nu").cast("bigint").alias("cos_new_u"),
        )
    )
    return (
        flg.join(sc, "cid")
        .select(
            "cid",
            "n_members",
            "n_new",
            "cos_old_u",
            "cos_new_u",
            (F.col("cos_new_u") - F.col("cos_old_u"))
            .cast("bigint")
            .alias("gain_u"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# ext_curriculum_mix

# Training-run curriculum: S steps ramp the domain mixture linearly
# from quality-weighted start parts to uniform end parts. Weights are
# integer PARTS, the per-step token budget is apportioned by the
# largest-remainder (Hamilton) method — floor allocations plus the
# shortfall distributed by (remainder DESC, source ASC) — so every
# step's allocations are exact integers that sum to the budget.
_CUR_STEPS = 8
# start parts by source tier (source index mod 3 — the ext_domain_mix
# convention): tier 0 = 4 parts, tier 1 = 2, tier 2 = 1. End = uniform.
_CUR_W0 = "CASE TRY_CAST(substr(source, 4) AS INT) % 3 WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END"
_CUR_W1 = 1
# per-step budget = total corpus tokens // (2 * S): the 8-step run
# consumes half an epoch of the corpus at uniform pressure.
_CUR_BUDGET_DIV = 2 * _CUR_STEPS


@register(
    "ext_curriculum_mix",
    oracle=(
        f"WITH toks AS (SELECT doc_id, source, "
        "CAST(len(list_filter(string_split_regex(lower(trim(text)), "
        "'\\s+'), x -> x <> '')) AS BIGINT) AS ntok FROM documents), "
        "avail AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS "
        "avail_tokens FROM toks GROUP BY source), "
        "tot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS tt "
        "FROM avail), "
        f"b AS (SELECT CAST(tt // {_CUR_BUDGET_DIV} AS BIGINT) AS budget "
        "FROM tot), "
        f"grid AS (SELECT s.step, a.source, a.avail_tokens, "
        f"CAST(({_CUR_W0}) * ({_CUR_STEPS - 1} - s.step) "
        f"+ {_CUR_W1} * s.step AS BIGINT) AS w_parts "
        f"FROM avail a, (SELECT unnest(range({_CUR_STEPS})) AS step) s), "
        "wsum AS (SELECT step, CAST(SUM(w_parts) AS BIGINT) AS w_tot "
        "FROM grid GROUP BY step), "
        "fl AS (SELECT g.step, g.source, g.avail_tokens, g.w_parts, "
        "CAST((b.budget * g.w_parts) // w.w_tot AS BIGINT) AS fl_alloc, "
        "CAST((b.budget * g.w_parts) % w.w_tot AS BIGINT) AS rem, "
        "b.budget AS budget "
        "FROM grid g JOIN wsum w ON w.step = g.step, b), "
        "sh AS (SELECT step, CAST(MAX(budget) - SUM(fl_alloc) AS BIGINT) "
        "AS shortfall FROM fl GROUP BY step), "
        "rk AS (SELECT fl.*, row_number() OVER (PARTITION BY fl.step "
        "ORDER BY fl.rem DESC, fl.source) AS rrk FROM fl) "
        "SELECT CAST(rk.step AS BIGINT) AS step, rk.source, rk.w_parts, "
        "CAST(rk.fl_alloc + CASE WHEN rk.rrk <= sh.shortfall THEN 1 "
        "ELSE 0 END AS BIGINT) AS alloc_tokens, "
        "rk.avail_tokens, "
        "CAST(CASE WHEN rk.fl_alloc + CASE WHEN rk.rrk <= sh.shortfall "
        "THEN 1 ELSE 0 END > rk.avail_tokens THEN 1 ELSE 0 END "
        "AS BIGINT) AS over_avail "
        "FROM rk JOIN sh ON sh.step = rk.step "
        "ORDER BY step, source"
    ),
    doc=(
        "CURRICULUM DATA MIXING — the SCHEDULE over training steps "
        "that ext_domain_mix's static proportions lack: an 8-step run "
        "ramps the domain mixture linearly from quality-weighted "
        "parts (4/2/1 by source tier, the domain_mix convention) to "
        "uniform, and each step's token budget (total corpus tokens "
        "// 16 — half an epoch across the run) is apportioned among "
        "domains by the LARGEST-REMAINDER method: floor(budget * w / "
        "W) per domain plus the shortfall distributed by (remainder "
        "DESC, source ASC). Every quantity is exact BIGINT, so the "
        "per-step conservation law Σ alloc = budget holds EXACTLY "
        "(law-tested) and both engines agree bit-for-bit — the "
        "apportionment-not-rounding choice is precisely what makes a "
        "mixing schedule reproducible across engines and reruns. "
        "over_avail flags steps where a domain's allocation exceeds "
        "its available tokens (epoch pressure: the early quality-"
        "heavy steps oversubscribe small high-quality domains — the "
        "signal to recycle or widen that domain). Scale shape: ONE "
        "corpus tokenize pass builds the per-source token counts "
        "(map-side combinable sum); everything after is |steps| x "
        "|domains| rows — the schedule itself costs nothing at "
        "100 TB, and the allocation table is exactly what a sampling "
        "job joins (broadcast) against the corpus to draw each "
        "step's data. BIGINT ceiling: budget * w_parts overflows "
        "int64 only past ~3e17 corpus tokens per weight part — "
        "document-scale safe; promote to DECIMAL past that."
    ),
    tags=("training",),
)
def ext_curriculum_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    avail = (
        d.select(
            "source",
            F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
        )
        .groupBy("source")
        .agg(F.sum("ntok").cast("bigint").alias("avail_tokens"))
        # k-row domain table: feeds the grid and the final join, and
        # its 1-row total feeds a broadcast — materialize once.
        .localCheckpoint(eager=True)
    )
    # Integer floor division (DIV), matching the oracle's `tt // N`:
    # float `/` would round past ~2^53 total corpus tokens and
    # silently diverge — this is the one budget quantity, keep it in
    # the same exact-BIGINT arithmetic as fl_alloc below.
    b = avail.agg(
        F.expr(
            f"CAST(SUM(avail_tokens) DIV {_CUR_BUDGET_DIV} AS BIGINT)"
        ).alias("budget")
    )
    steps = spark.range(_CUR_STEPS).select(F.col("id").cast("bigint").alias("step"))
    w0 = F.expr(
        "CASE TRY_CAST(substring(source, 4) AS INT) % 3 "
        "WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END"
    )
    # EAGER checkpoints on grid and fl: both are |steps|×|domains|
    # rows, and both feed broadcasts (wsum / sh are aggregates OF
    # them) — without the barriers their join assemblies sit under
    # BroadcastExchanges, which this round's audit flags as the
    # dedup_lsh_tune hazard class (the audit caught THIS op's first
    # draft — the bright line applies to schedule tables too).
    grid = (
        avail.crossJoin(F.broadcast(steps))
        .select(
            "step",
            "source",
            "avail_tokens",
            (
                w0 * (F.lit(_CUR_STEPS - 1) - F.col("step"))
                + F.lit(_CUR_W1) * F.col("step")
            )
            .cast("bigint")
            .alias("w_parts"),
        )
        .localCheckpoint(eager=True)
    )
    wsum = grid.groupBy("step").agg(
        F.sum("w_parts").cast("bigint").alias("w_tot")
    )
    fl = (
        grid.join(F.broadcast(wsum), "step")
        .crossJoin(F.broadcast(b))
        .select(
            "step",
            "source",
            "avail_tokens",
            "w_parts",
            F.expr("CAST((budget * w_parts) DIV w_tot AS BIGINT)").alias(
                "fl_alloc"
            ),
            F.expr("CAST((budget * w_parts) % w_tot AS BIGINT)").alias("rem"),
            "budget",
        )
        .localCheckpoint(eager=True)
    )
    sh = fl.groupBy("step").agg(
        (F.max("budget") - F.sum("fl_alloc")).cast("bigint").alias("shortfall")
    )
    wrk = Window.partitionBy("step").orderBy(F.desc("rem"), F.asc("source"))
    alloc = (
        fl.withColumn("rrk", F.row_number().over(wrk))
        .join(F.broadcast(sh), "step")
        .select(
            "step",
            "source",
            "w_parts",
            (
                F.col("fl_alloc")
                + F.when(F.col("rrk") <= F.col("shortfall"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc_tokens"),
            "avail_tokens",
        )
        .withColumn(
            "over_avail",
            F.when(F.col("alloc_tokens") > F.col("avail_tokens"), 1)
            .otherwise(0)
            .cast("bigint"),
        )
    )
    return alloc.orderBy("step", "source")
