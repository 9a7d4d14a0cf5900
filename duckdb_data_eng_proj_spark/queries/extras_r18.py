"""Round-18 operators — the three gap-grep survivors of the r18 queue
(VERDICT r17 item 7 named all three directions; the §9.0b analysis
grep confirms each is computed nowhere in the 283-id registry):

- txt_rerank_proximity — CROSS-ENCODER-STYLE RERANK over a candidate
  set: stage 1 retrieves candidates by coordination level (matched
  query-term count — the cheap bag-of-words ranker), stage 2 rescores
  them with a positional INTERACTION feature no first-stage ranker
  sees: per query-term pair, the minimum token distance between their
  occurrences in the document. txt_bm25_topk ranks by per-term
  frequency statistics (positions never enter); txt_hybrid_rrf fuses
  two existing rank lists; ext_ngram_collocations mines ADJACENT
  bigrams corpus-wide (no query side). Nothing in the registry scores
  query-term PROXIMITY inside a document — the interaction-feature
  half of a rerank stack.
- ext_contamination_report — PER-EVAL-SET CONTAMINATION ACCOUNTING:
  ext_decontaminate DROPS training docs sharing a 5-gram with the
  eval suite (a filter; its report is the surviving corpus);
  ext_dataset_card / ext_corpus_release_diff profile the corpus
  itself. Nothing REPORTS the contamination: per eval set, how many
  eval docs/grams, how many training docs are hit, what fraction of
  the corpus that is — the release-gate card a lab reads before
  trusting a benchmark number.
- sim_ann_ivf_rebalance — IVF TOPOLOGY REBALANCE PLAN (split/merge):
  sim_ann_ivf_admit FLAGS oversized cells (needs_split on the
  admission report); sim_ann_ivf_repair retrains members of
  drift-flagged cells IN PLACE (cell count unchanged). Neither
  changes the index topology. This op plans it: oversized cells
  split toward their farthest member, undersized cells merge into
  their nearest sibling centroid — the cell-count-changing
  maintenance step between admission and full retrain.

Reference parity: the reference (DuckDB loan-ETL take-home,
pipeline.py / queries.sql) has no retrieval, corpus-governance, or
vector surface; these extend the text-retrieval / training-data /
similarity families per the build charter. Determinism follows
registry.py rules: integer counts and micro-units in every hash
path; the only double math is the cosine fold (sequential, identical
expression trees both engines — the ml_iter discipline) compared
with deterministic (value DESC/ASC, id) tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.textops import TOK_SQL, tokens, word_ngrams
from duckdb_data_eng_proj_spark.operators.vectors import (
    assign,
    dot,
    dot_sql,
    normed,
    normed_cte,
    seeds,
)
from duckdb_data_eng_proj_spark.queries.extras_r12c import (
    _BM25_QUERIES,
    _BM25_TERMS,
)
from duckdb_data_eng_proj_spark.queries.registry import register, t

# ---------------------------------------------------------------------------
# txt_rerank_proximity

_RERANK_C = 20  # stage-1 candidates per query
_RERANK_K = 5  # reranked docs returned per query

_RERANK_Q_SQL = ", ".join(
    f"{{'query_id': '{qid}', 'term': '{w}'}}"
    for qid, ws in _BM25_QUERIES
    for w in ws
)
_RERANK_IN_SQL = ", ".join(f"'{w}'" for w in _BM25_TERMS)


@register(
    "txt_rerank_proximity",
    oracle=(
        f"WITH toks AS (SELECT doc_id, {TOK_SQL} AS tk FROM documents), "
        "pos AS (SELECT doc_id, i, tk[i] AS term FROM toks, "
        "unnest(generate_series(1, len(tk))) AS s(i) "
        f"WHERE tk[i] IN ({_RERANK_IN_SQL})), "
        "q AS (SELECT u.query_id AS query_id, u.term AS term "
        f"FROM (SELECT unnest([{_RERANK_Q_SQL}]) AS u)), "
        "m AS (SELECT q.query_id, p.doc_id, p.term, p.i "
        "FROM pos p JOIN q ON q.term = p.term), "
        "s1 AS (SELECT query_id, doc_id, "
        "CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms "
        "FROM m GROUP BY query_id, doc_id), "
        "cand AS (SELECT query_id, doc_id, n_terms FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY n_terms DESC, doc_id) AS crk FROM s1) "
        f"WHERE crk <= {_RERANK_C}), "
        "mc AS (SELECT m.* FROM m JOIN cand "
        "ON cand.query_id = m.query_id AND cand.doc_id = m.doc_id), "
        "pairs AS (SELECT a.query_id, a.doc_id, a.term AS ta, "
        "b.term AS tb, CAST(MIN(abs(a.i - b.i)) AS BIGINT) AS md "
        "FROM mc a JOIN mc b ON a.query_id = b.query_id "
        "AND a.doc_id = b.doc_id AND a.term < b.term "
        "GROUP BY a.query_id, a.doc_id, a.term, b.term), "
        "prox AS (SELECT query_id, doc_id, "
        "CAST(SUM(1000000 // (1 + md)) AS BIGINT) AS prox_u "
        "FROM pairs GROUP BY query_id, doc_id), "
        "fin AS (SELECT c.query_id, c.doc_id, c.n_terms, "
        "COALESCE(p.prox_u, 0) AS prox_u FROM cand c "
        "LEFT JOIN prox p ON p.query_id = c.query_id "
        "AND p.doc_id = c.doc_id) "
        "SELECT query_id, doc_id, n_terms, prox_u, rank FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY n_terms DESC, prox_u DESC, doc_id) AS rank FROM fin) "
        f"WHERE rank <= {_RERANK_K}"
    ),
    doc=(
        "CROSS-ENCODER-STYLE PROXIMITY RERANK — the two-stage "
        "retrieval pattern where a cheap first stage casts a wide "
        "candidate net and an interaction-aware second stage reorders "
        f"it. Stage 1: coordination-level retrieval (matched "
        f"query-term count, ties to doc_id) keeps C={_RERANK_C} "
        "candidates per query — the bag-of-words ranker that never "
        "looks at positions. Stage 2, candidates only: for every "
        "unordered query-term pair, the MINIMUM token distance "
        "between their occurrences; the proximity score sums "
        "1000000 // (1 + min_dist) over pairs (integer micro-units, "
        "monotone in closeness — adjacent terms score 500000, "
        "distant pairs decay harmonically). Final order: terms "
        f"matched DESC, proximity DESC, doc_id; top-{_RERANK_K}. "
        "Pure-integer hash path (positions, counts, truncating "
        "division — positive operands, so // and DIV agree). Scale "
        "shape: the term filter reaches the token scan BEFORE any "
        "shuffle, so stage 1 aggregates a postings-sized stream (the "
        "txt_bm25_topk inverted-index cost); the candidate table is "
        "C x |queries| rows, broadcast back to restrict the postings "
        "to candidate docs, and the pair self-join runs on that "
        "bounded slice only — per (query, doc), cost is "
        "|terms-matched|^2 x occurrences, never corpus-pairwise. At "
        "100 TB the rerank touches exactly the documents a real "
        "cross-encoder would see: the first-stage shortlist."
    ),
    tags=("text", "retrieval"),
)
def txt_rerank_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    # postings with 1-based positions; the term filter lands on the
    # exploded stream before any shuffle (postings-sized from here on)
    pos = (
        d.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("p0", "token")
        )
        .filter(F.col("token").isin(*_BM25_TERMS))
        .select(
            "doc_id", (F.col("p0") + 1).cast("bigint").alias("i"), "token"
        )
    )
    qrows = [(qid, w) for qid, ws in _BM25_QUERIES for w in ws]
    q = spark.createDataFrame(qrows, "query_id string, term string")
    m = (
        pos.join(F.broadcast(q), pos["token"] == q["term"])
        .select("query_id", "doc_id", "term", "i")
        .localCheckpoint(eager=False)
    )
    s1 = (
        m.select("query_id", "doc_id", "term")
        .distinct()
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("bigint").alias("n_terms"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("n_terms").desc(), F.col("doc_id")
    )
    # EAGER checkpoint: cand feeds a broadcast and its subtree is the
    # corpus postings aggregation (the audit_broadcast_subtrees rule —
    # never run a join pipeline inside the broadcast future). The
    # VALUE is C x |queries| <= 80 rows.
    cand = (
        s1.withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= _RERANK_C)
        .drop("crk")
        .localCheckpoint(eager=True)
    )
    mc = m.join(F.broadcast(cand.select("query_id", "doc_id")), ["query_id", "doc_id"])
    a, b = mc.alias("a"), mc.alias("b")
    pairs = a.join(
        b,
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.term") < F.col("b.term")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.term").alias("ta"),
        F.col("b.term").alias("tb"),
        F.abs(F.col("a.i") - F.col("b.i")).alias("ad"),
    )
    md = pairs.groupBy("query_id", "doc_id", "ta", "tb").agg(
        F.min("ad").cast("bigint").alias("md")
    )
    prox = md.select(
        "query_id",
        "doc_id",
        F.expr("CAST(1000000 AS BIGINT) DIV (CAST(1 AS BIGINT) + md)").alias("pu"),
    ).groupBy("query_id", "doc_id").agg(
        F.sum("pu").cast("bigint").alias("prox_u")
    )
    fin = cand.join(prox, ["query_id", "doc_id"], "left").select(
        "query_id",
        "doc_id",
        "n_terms",
        F.coalesce(F.col("prox_u"), F.lit(0).cast("bigint")).alias("prox_u"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("n_terms").desc(), F.col("prox_u").desc(), F.col("doc_id")
    )
    return (
        fin.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _RERANK_K)
        .select("query_id", "doc_id", "n_terms", "prox_u", "rank")
    )


# ---------------------------------------------------------------------------
# ext_contamination_report

_CONTAM_N = 5  # n-gram width, shared with ext_decontaminate
_CONTAM_SETS = 3  # eval docs (doc_id % 50 = 0) partition into 3 suites


@register(
    "ext_contamination_report",
    oracle=(
        f"WITH toks AS (SELECT doc_id, {TOK_SQL} AS tk FROM documents), "
        "grams AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g "
        "FROM toks, unnest(generate_series(1, greatest(len(tk)-4, 0))) "
        "AS s(i)), "
        f"eg AS (SELECT DISTINCT CAST((doc_id // 50) % {_CONTAM_SETS} "
        "AS BIGINT) AS eval_set, g FROM grams WHERE doc_id % 50 = 0), "
        "esets AS (SELECT eval_set, CAST(COUNT(*) AS BIGINT) "
        "AS n_eval_grams FROM eg GROUP BY eval_set), "
        f"edocs AS (SELECT CAST((doc_id // 50) % {_CONTAM_SETS} AS BIGINT) "
        "AS eval_set, CAST(COUNT(*) AS BIGINT) AS n_eval_docs "
        "FROM documents WHERE doc_id % 50 = 0 GROUP BY eval_set), "
        "tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train "
        "FROM documents WHERE doc_id % 50 <> 0), "
        "hits AS (SELECT eg.eval_set, g.doc_id, g.g FROM grams g "
        "JOIN eg ON eg.g = g.g WHERE g.doc_id % 50 <> 0), "
        "h AS (SELECT eval_set, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_hit_docs, "
        "CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hit_grams "
        "FROM hits GROUP BY eval_set) "
        "SELECT e.eval_set, edocs.n_eval_docs, e.n_eval_grams, "
        "COALESCE(h.n_hit_docs, 0) AS n_hit_docs, "
        "COALESCE(h.n_hit_grams, 0) AS n_hit_grams, "
        "CAST(COALESCE(h.n_hit_docs, 0) * 1000000 // tn.n_train "
        "AS BIGINT) AS hit_docs_ppm "
        "FROM esets e JOIN edocs ON edocs.eval_set = e.eval_set "
        "LEFT JOIN h ON h.eval_set = e.eval_set, tn "
        # Degenerate guard (the r19 recall-curve class): with ZERO
        # training docs (every doc_id % 50 = 0) hit_docs_ppm is 0/0 —
        # Spark's ANSI DIV throws while DuckDB's // NULLs the column.
        # No training corpus -> no contamination report (fail empty,
        # never a rows-with-NULL vs throw split).
        "WHERE tn.n_train > 0 "
        "ORDER BY e.eval_set"
    ),
    doc=(
        "CONTAMINATION REPORT CARD — the accounting side of benchmark "
        "decontamination: ext_decontaminate DROPS training docs "
        f"sharing a {_CONTAM_N}-token n-gram with the eval suite; "
        "this op REPORTS the overlap per eval set (doc_id % 50 = 0 "
        f"stands in for the suite, partitioned into {_CONTAM_SETS} "
        f"sets by (doc_id // 50) % {_CONTAM_SETS} — per-benchmark accounting, the "
        "way labs audit MMLU/GSM8K/etc separately). One row per eval "
        "set: eval docs, distinct eval n-grams, training docs hit, "
        "distinct eval grams found in training, and hit docs as ppm "
        "of the training corpus (integer micro-units; // and DIV "
        "agree on positive operands). Scale shape: identical to "
        "ext_decontaminate's — eval n-grams are benchmark-sized, so "
        "the (eval_set, gram) table is a broadcast; the corpus n-gram "
        "stream joins it map-side with ZERO corpus shuffle, and only "
        "hit rows (contaminated doc x matched gram, tiny by "
        "construction) reach the per-set distinct aggregation. The "
        "corpus pays one tokenize scan; everything else is "
        "benchmark-sized. The report is the release gate artifact: "
        "hit_docs_ppm per benchmark is the number that decides "
        "whether an eval score is trustworthy."
    ),
    tags=("training", "corpus"),
)
def ext_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # ADVICE r18: derive the partition count from _CONTAM_SETS (the
    # single knob the oracle interpolates) so the two engines cannot
    # silently desync if the constant changes.
    eval_set = (
        F.expr(f"(doc_id DIV 50) % {_CONTAM_SETS}").cast("bigint").alias("eval_set")
    )
    # eval branch filters BEFORE tokenizing (only eval docs pay the
    # n-gram stage — the ext_decontaminate r5 lesson); token arrays
    # materialize behind the select barrier so the n-gram lambda does
    # not re-evaluate the tokenizer per position.
    eg = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(eval_set, tokens(F.col("text")).alias("tk"))
        .select(
            "eval_set",
            F.explode(word_ngrams(F.col("tk"), _CONTAM_N)).alias("g"),
        )
        .distinct()
        # EAGER checkpoint: eg feeds a broadcast; its subtree is the
        # eval tokenize pipeline (audit_broadcast_subtrees rule). The
        # VALUE is benchmark-sized.
        .localCheckpoint(eager=True)
    )
    esets = eg.groupBy("eval_set").agg(
        F.count("*").cast("bigint").alias("n_eval_grams")
    )
    edocs = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(eval_set)
        .groupBy("eval_set")
        .agg(F.count("*").cast("bigint").alias("n_eval_docs"))
    )
    tn = d.filter(F.col("doc_id") % 50 != 0).agg(
        F.count("*").cast("bigint").alias("n_train")
    )
    tg = (
        ensure_parallelism(
            d.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text")
        )
        .select("doc_id", tokens(F.col("text")).alias("tk"))
        .select("doc_id", F.explode(word_ngrams(F.col("tk"), _CONTAM_N)).alias("g"))
    )
    hits = tg.join(F.broadcast(eg), "g").select("eval_set", "doc_id", "g")
    h = hits.groupBy("eval_set").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_hit_docs"),
        F.countDistinct("g").cast("bigint").alias("n_hit_grams"),
    )
    return (
        esets.join(edocs, "eval_set")
        .join(h, "eval_set", "left")
        .crossJoin(F.broadcast(tn))
        # degenerate guard — see the oracle comment: fail EMPTY when
        # there is no training corpus to take a ppm of
        .filter(F.col("n_train") > 0)
        .select(
            "eval_set",
            "n_eval_docs",
            "n_eval_grams",
            F.coalesce(F.col("n_hit_docs"), F.lit(0).cast("bigint")).alias(
                "n_hit_docs"
            ),
            F.coalesce(F.col("n_hit_grams"), F.lit(0).cast("bigint")).alias(
                "n_hit_grams"
            ),
            F.expr(
                "CAST(COALESCE(n_hit_docs, 0) * 1000000 DIV n_train AS BIGINT)"
            ).alias("hit_docs_ppm"),
        )
        .orderBy("eval_set")
    )


# ---------------------------------------------------------------------------
# sim_ann_ivf_rebalance

_REB_SEED_LIMIT = 24  # 16 seeds: vec_id < 24 minus the 8 multiples of 3
_REB_K = 16
_REB_DIM = 64  # fixed-dim contract (the PQ-family rule, r17)

_REB_COS = (
    dot_sql("v.embedding", "c.c_emb") + " / (v.nrm * c.c_nrm)"
)


def _reb_oracle() -> str:
    cos_mf = dot_sql("m.embedding", "f.f_emb") + " / (m.nrm * f.f_nrm)"
    cos_ab = dot_sql("a.c_emb", "b.c_emb") + " / (a.c_nrm * b.c_nrm)"
    return (
        f"WITH {normed_cte(_REB_DIM)}, "
        "cent AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm "
        f"FROM e WHERE vec_id < {_REB_SEED_LIMIT} AND vec_id % 3 <> 0), "
        "asg AS (SELECT vec_id, cid, cos FROM ("
        f"SELECT v.vec_id, c.cid, {_REB_COS} AS cos, "
        "row_number() OVER (PARTITION BY v.vec_id "
        f"ORDER BY {_REB_COS} DESC, c.cid) AS rn "
        "FROM e v CROSS JOIN cent c "
        "WHERE c.c_nrm > 0 AND v.nrm > 0) WHERE rn = 1), "
        "cells AS (SELECT c.cid, "
        "COALESCE(k.n, CAST(0 AS BIGINT)) AS n FROM cent c LEFT JOIN "
        "(SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM asg GROUP BY cid) k "
        "ON k.cid = c.cid), "
        f"bal AS (SELECT CAST((SUM(n) + CAST({_REB_K - 1} AS BIGINT)) "
        f"// {_REB_K} AS BIGINT) AS balanced FROM cells), "
        "act AS (SELECT cid, n, CASE "
        "WHEN 4 * n > 5 * balanced THEN 'split' "
        "WHEN 4 * n < 3 * balanced THEN 'merge' "
        "ELSE 'keep' END AS action FROM cells, bal), "
        "far AS (SELECT cid, vec_id AS f_vid FROM ("
        "SELECT cid, vec_id, row_number() OVER (PARTITION BY cid "
        "ORDER BY cos ASC, vec_id) AS rn FROM asg) WHERE rn = 1), "
        "femb AS (SELECT far.cid, far.f_vid, e.embedding AS f_emb, "
        "e.nrm AS f_nrm FROM far JOIN e ON e.vec_id = far.f_vid), "
        "moved AS (SELECT a.cid, CAST(COUNT(*) FILTER ("
        f"WHERE {cos_mf} > a.cos) AS BIGINT) AS n_moved "
        "FROM asg a JOIN e m ON m.vec_id = a.vec_id "
        "JOIN femb f ON f.cid = a.cid "
        "JOIN act ON act.cid = a.cid AND act.action = 'split' "
        "GROUP BY a.cid), "
        "near AS (SELECT cid, pid FROM ("
        f"SELECT a.cid, b.cid AS pid, row_number() OVER ("
        f"PARTITION BY a.cid ORDER BY {cos_ab} DESC, b.cid) AS rn "
        "FROM cent a JOIN cent b ON b.cid <> a.cid "
        "WHERE a.c_nrm > 0 AND b.c_nrm > 0) WHERE rn = 1) "
        "SELECT act.cid AS centroid_id, act.n AS n_members, "
        "act.action AS action, "
        "CASE WHEN act.action = 'split' THEN f.f_vid "
        "WHEN act.action = 'merge' THEN near.pid END AS partner_id, "
        "CASE WHEN act.action = 'split' THEN COALESCE(mv.n_moved, 0) "
        "WHEN act.action = 'merge' THEN act.n "
        "ELSE CAST(0 AS BIGINT) END AS n_moved "
        "FROM act LEFT JOIN femb f ON f.cid = act.cid "
        "LEFT JOIN near ON near.cid = act.cid "
        "LEFT JOIN moved mv ON mv.cid = act.cid "
        "ORDER BY centroid_id"
    )


@register(
    "sim_ann_ivf_rebalance",
    oracle=_reb_oracle(),
    doc=(
        "IVF TOPOLOGY REBALANCE PLAN — the split/merge maintenance "
        "step between sim_ann_ivf_admit (which only FLAGS oversized "
        "cells) and a full retrain (sim_ann_ivf_repair re-centers "
        "members in place; neither changes the CELL COUNT). Over the "
        "persisted 16-seed layout: per cell, n members via "
        "argmax-cosine assignment; balanced share = "
        "ceil(total / 16). Oversized cells (4n > 5*balanced) SPLIT "
        "toward their FARTHEST member (min cosine to own centroid, "
        "ties to vec_id): partner_id is that member, n_moved counts "
        "members strictly closer to it than to the old centroid — "
        "the deterministic 2-seed first Lloyd step, no iteration. "
        "Undersized cells (4n < 3*balanced) MERGE into their nearest "
        "sibling centroid (max centroid-centroid cosine, ties to "
        "cid): partner_id is the absorbing cell, n_moved = n. "
        "Everything else keeps (partner NULL, 0 moved). Thresholds "
        "are pure-integer cross-multiplications; cosines are "
        "sequential-fold doubles on identical expression trees with "
        "(cos, id) tie-breaks — the ml_iter discipline. Zero-norm "
        "and off-contract (dim != 64) vectors are excluded on both "
        "engines (the r17 fixed-dim rule). Scale shape: assignment "
        "is a map-side packed-centroid argmax over a broadcast "
        "16-row table (zero corpus shuffle); the per-cell count and "
        "farthest-member argmin are one map-side-combinable "
        "aggregation (16-row result); the split evaluation rescans "
        "ONLY split-cell members against a broadcast "
        "(old centroid, child seed) pair table. In production the "
        "rescan is a partition-pruned read of exactly the oversized "
        "cells' files in the sim_ann_ivf_partitioned layout — the "
        "plan's n_moved is the bytes the compactor will rewrite."
    ),
    tags=("similarity",),
)
def sim_ann_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = normed(ensure_parallelism(t(spark, sf_dir, "embeddings")), _REB_DIM)
    cent = seeds(
        e.filter((F.col("vec_id") < _REB_SEED_LIMIT) & (F.col("vec_id") % 3 != 0))
    ).localCheckpoint()  # eager: feeds the packed broadcast (r10 race)
    # assignment scan: map-side argmax, keeps the winning cosine and
    # the member embedding for the split evaluation.
    asg = assign(e, cent, keep=("vec_id", "embedding", "nrm"), cos="cos")
    # ONE map-side-combinable pass: per-cell count + farthest member
    # (struct-min on (cos, vec_id) — no NULLs, total order).
    percell = asg.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min(F.struct(F.col("cos"), F.col("vec_id"))).alias("_far"),
    )
    cells = (
        cent.select("cid")
        .join(percell, "cid", "left")
        .select(
            "cid",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n"),
            F.col("_far.vec_id").alias("f_vid"),
        )
    )
    # ADVICE r18: derive the ceiling-division addend from _REB_K so a
    # future cell-count change keeps ceil semantics on both engines.
    balanced = F.expr(
        f"CAST((SUM(n) OVER () + CAST({_REB_K - 1} AS BIGINT)) DIV {_REB_K} AS BIGINT)"
    )
    act = (
        cells.withColumn("balanced", balanced)
        .select(
            "cid",
            "n",
            "f_vid",
            F.when(4 * F.col("n") > 5 * F.col("balanced"), F.lit("split"))
            .when(4 * F.col("n") < 3 * F.col("balanced"), F.lit("merge"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
        # eager: act feeds broadcasts below and its subtree is the
        # corpus assignment aggregation (audit rule). 16 rows.
        .localCheckpoint(eager=True)
    )
    # child-seed embeddings for the split cells: one bounded probe of
    # e by the <=16 farthest-member ids, then eager-checkpoint the
    # (old centroid, child seed) pair table before broadcasting it
    # under the split-evaluation scan.
    far_ids = act.filter(F.col("action") == "split").select(
        "cid", F.col("f_vid")
    )
    splits = (
        e.join(
            F.broadcast(far_ids), e["vec_id"] == far_ids["f_vid"]
        )
        .select(
            F.col("cid").alias("s_cid"),
            F.col("f_vid"),
            F.col("embedding").alias("f_emb"),
            F.col("nrm").alias("f_nrm"),
        )
        .localCheckpoint(eager=True)
    )
    moved = (
        asg.join(F.broadcast(splits), asg["cid"] == splits["s_cid"])
        .select(
            "cid",
            (
                (dot(F.col("embedding"), F.col("f_emb")) / (F.col("nrm") * F.col("f_nrm")))
                > F.col("cos")
            ).alias("_moves"),
        )
        .groupBy("cid")
        .agg(F.count(F.when(F.col("_moves"), F.lit(1))).cast("bigint").alias("n_moved"))
    )
    # nearest sibling centroid: 16x16 grid, result-sized window.
    cpos = cent.filter(F.col("c_nrm") > 0)
    ca, cb = cpos.alias("ca"), cpos.alias("cb")
    grid = ca.join(cb, F.col("ca.cid") != F.col("cb.cid")).select(
        F.col("ca.cid").alias("cid"),
        F.col("cb.cid").alias("pid"),
        (
            dot(F.col("ca.c_emb"), F.col("cb.c_emb"))
            / (F.col("ca.c_nrm") * F.col("cb.c_nrm"))
        ).alias("cc"),
    )
    wn = Window.partitionBy("cid").orderBy(F.col("cc").desc(), F.col("pid"))
    near = (
        grid.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("cid", "pid")
    )
    return (
        act.join(near.withColumnRenamed("cid", "n_cid"), F.col("cid") == F.col("n_cid"), "left")
        .join(moved.withColumnRenamed("cid", "m_cid"), F.col("cid") == F.col("m_cid"), "left")
        .select(
            F.col("cid").alias("centroid_id"),
            F.col("n").alias("n_members"),
            "action",
            F.when(F.col("action") == "split", F.col("f_vid"))
            .when(F.col("action") == "merge", F.col("pid"))
            .alias("partner_id"),
            F.when(
                F.col("action") == "split",
                F.coalesce(F.col("n_moved"), F.lit(0).cast("bigint")),
            )
            .when(F.col("action") == "merge", F.col("n"))
            .otherwise(F.lit(0).cast("bigint"))
            .alias("n_moved"),
        )
        .orderBy("centroid_id")
    )
