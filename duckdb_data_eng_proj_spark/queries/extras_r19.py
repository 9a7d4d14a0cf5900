"""Round-19 operator — the single gap-grep survivor of the r19 queue
(VERDICT r18 item 5 named three directions; the §9.0b analysis grep
against the 286-id registry kept one):

- sim_ann_ivf_recall_curve — IVF RECALL/COST TUNING CURVE: recall@k
  of the IVF probe search versus exact brute-force ground truth, AT
  EVERY nprobe OPERATING POINT (1, 2, 4, 8, 16), with the candidate
  scan cost alongside — the one-table report that picks nprobe for a
  target recall. Nothing in the registry computes it:
  sim_ann_recall_eval scores the HYPERPLANE-LSH sketch at its single
  operating point (no IVF, no sweep, no cost axis);
  sim_ann_ivf_search returns the ranked list at one fixed nprobe=4
  (the answer, not its quality); dedup_lsh_tune sweeps LSH banding
  configs for DEDUP candidate load (precision/load planning, no
  recall-vs-ground-truth axis); sim_ann_ivf_admit / _rebalance /
  _repair / _drift maintain the index topology and say nothing about
  search quality. The curve is the missing tuning artifact between
  "the index is healthy" (admit/rebalance/repair) and "the index is
  trusted" (this report clearing a recall bar per scan budget).

Rejected this grep (recorded per the §9.0b near-dup rule):
stream_contamination_gate (ext_decontaminate inside foreachBatch —
the r13 grep already rejected stream_quality_gate on the identical
rationale: same admission mechanics as ext_stream_dedup_admit with a
different verdict body; one streaming-admission pattern proves the
mechanics), dedup_lineage_keeper (keeper→members manifest over the
near-dup clusters — dedup_cluster_cc's cluster_id IS the min-doc_id
keeper, so the map already exists as its output; a quality-ranked
representative is one window swap over the same fixpoint, not a new
analysis).

Reference parity: the reference (DuckDB loan-ETL take-home,
pipeline.py / queries.sql) has no vector surface; this completes the
IVF family per the build charter. Determinism follows registry.py
rules: the hash path is integer-only (counts and DIV-floored ppm);
the only double math is the sequential-fold cosine compared with
deterministic (cos DESC, id ASC) tie-breaks — identical expression
trees on both engines (the sim_ann_ivf_search precedent).

SINGLE-PASS CURVE (the subset-outranker lemma): a ground-truth
neighbor n of query q is in the IVF top-k at probe depth L  ⟺  the
probe rank of n's cell for q is ≤ L. Proof: candidates at depth L
that outrank n under the total order (cos DESC, id ASC) are a subset
of n's GLOBAL outrankers, and n ∈ brute-force top-k means it has at
most k-1 of those — so whenever n is a candidate at all it ranks in
the top-k. Recall at every L therefore falls out of ONE brute-force
pass plus each winner's cell probe rank — no per-level search is
ever executed, and the law test replays the LITERAL per-level search
in pure Python to pin the lemma. The cost axis needs no candidate
materialization either: candidates scanned at depth L = Σ over
(query, cell with prn ≤ L) of cell occupancy (minus the query's own
row) — cell COUNTS, the dedup_lsh_tune occupancy trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.vectors import dot, dot_sql, probes
from duckdb_data_eng_proj_spark.queries.registry import register
from duckdb_data_eng_proj_spark.queries.training import _ASSIGN_CTES, _ivf_parts

# ---------------------------------------------------------------------------
# sim_ann_ivf_recall_curve

_CURVE_LEVELS = (1, 2, 4, 8, 16)  # nprobe sweep; 16 = every cell
_CURVE_NQ = 10  # evaluation query batch: vec_id < 10 (the family's)
_CURVE_K = 5  # top-k, matching sim_ann_ivf_search

_CURVE_LV_SQL = ", ".join(str(x) for x in _CURVE_LEVELS)


@register(
    "sim_ann_ivf_recall_curve",
    oracle=(
        f"WITH {_ASSIGN_CTES}, "
        "vv AS (SELECT vec_id, embedding, nrm FROM e "
        "WHERE nrm > 0 AND len(embedding) = 64), "
        f"q AS (SELECT vec_id, embedding, nrm FROM vv WHERE vec_id < {_CURVE_NQ}), "
        "qp AS (SELECT query_id, centroid_id, prn FROM ("
        "SELECT q.vec_id AS query_id, c.centroid_id, row_number() OVER ("
        "PARTITION BY q.vec_id ORDER BY "
        f"{dot_sql('q.embedding', 'c.c_emb')} / (q.nrm * c.c_nrm) DESC, "
        "c.centroid_id) AS prn FROM q CROSS JOIN cent c)), "
        "cells AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM assign GROUP BY centroid_id), "
        "bf AS (SELECT query_id, neighbor_id FROM ("
        "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        f"{dot_sql('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) DESC, "
        "n.vec_id) AS rk FROM q JOIN vv n ON n.vec_id <> q.vec_id) "
        f"WHERE rk <= {_CURVE_K}), "
        "hits AS (SELECT b.query_id, qp.prn FROM bf b "
        "JOIN assign a ON a.vec_id = b.neighbor_id "
        "JOIN qp ON qp.query_id = b.query_id "
        "AND qp.centroid_id = a.centroid_id), "
        f"lv AS (SELECT CAST(unnest([{_CURVE_LV_SQL}]) AS BIGINT) AS nprobe), "
        "tot AS (SELECT CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS nq, "
        "CAST((SELECT COUNT(*) FROM vv) AS BIGINT) AS n_corpus, "
        "CAST((SELECT COUNT(*) FROM bf) AS BIGINT) AS n_truth), "
        "h AS (SELECT lv.nprobe, CAST(COUNT(hits.prn) AS BIGINT) AS n_hits "
        "FROM lv LEFT JOIN hits ON hits.prn <= lv.nprobe GROUP BY lv.nprobe), "
        "cd AS (SELECT lv.nprobe, CAST(SUM(COALESCE(cells.n, 0) - "
        "CASE WHEN qp.prn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand "
        "FROM lv JOIN qp ON qp.prn <= lv.nprobe "
        "LEFT JOIN cells ON cells.centroid_id = qp.centroid_id "
        "GROUP BY lv.nprobe) "
        "SELECT h.nprobe AS nprobe, tot.n_truth AS n_truth, "
        "h.n_hits AS n_hits, "
        "CAST(h.n_hits * 1000000 // tot.n_truth AS BIGINT) AS recall_ppm, "
        "cd.n_cand AS n_cand, "
        "CAST(cd.n_cand * 1000000 // (tot.nq * (tot.n_corpus - 1)) "
        "AS BIGINT) AS scan_ppm "
        # Degenerate guard (the hostile-vintage discipline): with zero
        # ground-truth pairs (no valid query, or a 1-vector corpus)
        # recall_ppm's division is 0/0 — Spark's ANSI DIV THROWS
        # DIVIDE_BY_ZERO while DuckDB's // NULLs the column (probed,
        # tests/test_r19_laws.py). n_truth > 0 implies nq >= 1 and
        # n_corpus >= 2, so this one predicate makes BOTH engines
        # emit zero rows instead of error-vs-NULL-rows.
        "FROM h JOIN cd ON cd.nprobe = h.nprobe, tot "
        "WHERE tot.n_truth > 0 ORDER BY nprobe"
    ),
    doc=(
        "IVF RECALL/COST CURVE — recall@5 of the IVF probe search vs "
        "exact brute force at every nprobe in "
        f"{_CURVE_LEVELS}, one row per operating point: nprobe, "
        "ground-truth rows, hits, recall (ppm), candidates scanned, "
        "and scan fraction of the brute-force cost (ppm) — the table "
        "that picks nprobe for a target recall. Computed in ONE pass "
        "via the subset-outranker lemma (module docstring): a "
        "brute-force winner is recalled at depth L iff its cell's "
        "probe rank for that query is ≤ L, so the whole curve needs "
        "only the brute-force top-k (the evaluation harness pays this "
        "for ground truth regardless), each winner's cell, and the "
        "per-query cell ranking; scan cost comes from cell OCCUPANCY "
        "counts (the dedup_lsh_tune trick — no candidate row is ever "
        "materialized). By construction the nprobe=16 row reads "
        "recall_ppm = scan_ppm = 1000000 exactly (full scan ≡ brute "
        "force) — a self-validating law row. Scale shape: two corpus "
        "scans (brute-force scoring with the broadcast query batch; "
        "map-side packed-centroid assignment), both shuffle-free on "
        "the corpus side; everything downstream is query-batch- or "
        "cell-count-sized. Integer-only hash path (counts, "
        "DIV-floored ppm); positive operands so // and DIV agree."
    ),
    tags=("similarity",),
)
def sim_ann_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    en, cent, members = _ivf_parts(spark, sf_dir)
    vv = en.filter(F.col("nrm") > 0)
    q = vv.filter(F.col("vec_id") < _CURVE_NQ)

    # Full-depth probe ranking per query (|Q| × 16 rows) with its
    # 1-based probe rank prn — no window.
    qp = (
        probes(q, cent, [F.col("vec_id").alias("query_id")], cid="centroid_id")
        # EAGER checkpoint: qp is broadcast twice below (hits, cd) —
        # audit_broadcast_subtrees rule; the VALUE is |Q|×16 rows.
        .localCheckpoint(eager=True)
    )

    # Brute-force ground truth: broadcast query batch against the
    # corpus, deterministic (cos DESC, neighbor_id) top-k — the
    # ext_sim_topk shape, restricted to the index's admissible
    # universe (dim-64, nrm > 0) so every winner has a defined cell.
    qb = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * F.col("nrm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    bf = (
        F.broadcast(qb)
        .join(vv, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_raw")
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CURVE_K)
        .select("query_id", "neighbor_id")
        # EAGER checkpoint: bf feeds broadcasts; its subtree is the
        # corpus-scale scoring window. The VALUE is ≤ k·|Q| rows.
        .localCheckpoint(eager=True)
    )

    # Cell occupancy is index metadata: map-side-combinable count.
    cells = (
        members.groupBy("centroid_id")
        .agg(F.count("*").cast("bigint").alias("n"))
        # EAGER checkpoint: feeds a broadcast; subtree is the corpus
        # assignment scan. The VALUE is ≤ 16 rows.
        .localCheckpoint(eager=True)
    )

    # Each winner's cell probe rank (≤ k·|Q| rows).
    hits = (
        members.join(F.broadcast(bf), F.col("vec_id") == F.col("neighbor_id"))
        .select("query_id", "centroid_id")
        .join(F.broadcast(qp), ["query_id", "centroid_id"])
        .select("query_id", "prn")
        .localCheckpoint(eager=True)
    )

    levels = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x).cast("bigint") for x in _CURVE_LEVELS])
        ).alias("nprobe")
    )

    h = (
        levels.join(F.broadcast(hits), F.col("prn") <= F.col("nprobe"), "left")
        .groupBy("nprobe")
        .agg(F.count("prn").cast("bigint").alias("n_hits"))
    )
    own = F.when(F.col("prn") == 1, F.lit(1).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )
    cd = (
        levels.join(F.broadcast(qp), F.col("prn") <= F.col("nprobe"))
        .join(F.broadcast(cells), "centroid_id", "left")
        .groupBy("nprobe")
        .agg(
            F.sum(F.coalesce(F.col("n"), F.lit(0).cast("bigint")) - own)
            .cast("bigint")
            .alias("n_cand")
        )
    )
    tot = (
        bf.agg(F.count("*").cast("bigint").alias("n_truth"))
        .crossJoin(
            F.broadcast(
                qp.filter(F.col("prn") == 1).agg(
                    F.count("*").cast("bigint").alias("nq")
                )
            )
        )
        .crossJoin(
            F.broadcast(cells.agg(F.sum("n").cast("bigint").alias("n_corpus")))
        )
    )
    return (
        h.join(cd, "nprobe")
        .crossJoin(F.broadcast(tot))
        # degenerate guard — see the oracle comment: fail EMPTY (not
        # Spark-throws-vs-DuckDB-NULL-rows) with no ground truth
        .filter(F.col("n_truth") > 0)
        .select(
            "nprobe",
            "n_truth",
            "n_hits",
            F.expr("CAST(n_hits * 1000000 DIV n_truth AS BIGINT)").alias(
                "recall_ppm"
            ),
            "n_cand",
            F.expr(
                "CAST(n_cand * 1000000 DIV (nq * (n_corpus - 1)) AS BIGINT)"
            ).alias("scan_ppm"),
        )
        .orderBy("nprobe")
    )
