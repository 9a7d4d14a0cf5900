"""Round-7 operators: graph triangle census and event-transition matrix.

Two additions within the r7 registry freeze budget (VERDICT r6 item 5
allows ≤20% first-time evidence in the driver window; these two plus
the six r6b carryovers stay at 16%):

- graph_clustering_coefficient — triangle/wedge census + global
  clustering coefficient over the verified LSH near-dup pair graph.
  Reference parity: the reference has no graph operators (SURVEY.md
  §2); this extends the dedup-graph family (dedup_cluster_cc's pair
  graph, extras_r6's per-vertex graph_triangle_count) with the
  whole-graph cohesion diagnostic and the degree-ordered orientation.
- evt_markov_transition — first-order event-type transition counts and
  fixed-point probabilities over per-user event sequences; the
  sequence-analytics sibling of ext_ngram_lm's text bigram table.

Both follow the repo's determinism rules (registry.py docstring):
integer counts, micro-unit/basis-point fixed-point ratios via integer
div, identical aliases both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.queries.corpus import _PAIRS_SQL, _near_dup_pairs
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import _LSH_PRELUDE

# ---------------------------------------------------------------------------
# graph_clustering_coefficient

_TRI_THR = 0.05  # same pair-graph threshold as the dedup_cluster_cc family


@register(
    "graph_clustering_coefficient",
    oracle=(
        _LSH_PRELUDE
        + ", "
        + _PAIRS_SQL.format(thr=_TRI_THR)
        + ", deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM ("
        "SELECT doc_a AS v FROM ndpairs "
        "UNION ALL SELECT doc_b AS v FROM ndpairs) GROUP BY v), "
        # id-ordered triangle join: every triangle a<b<c counted once.
        # The count is orientation-independent, so the oracle may use
        # the simple id orientation while Spark uses the degree-ordered
        # one — identical result, different join fan-out bound.
        "tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles "
        "FROM ndpairs e1 "
        "JOIN ndpairs e2 ON e2.doc_a = e1.doc_b "
        "JOIN ndpairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b), "
        "agg AS (SELECT CAST((SELECT COUNT(*) FROM ndpairs) AS BIGINT) "
        "AS n_edges, CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) "
        "AS n_wedges FROM deg) "
        "SELECT a.n_edges, a.n_wedges, t.n_triangles, "
        "CAST(CASE WHEN a.n_wedges = 0 THEN 0 "
        "ELSE (3 * t.n_triangles * 10000) // a.n_wedges END AS BIGINT) "
        "AS global_cc_bp "
        "FROM agg a, tri t"
    ),
    doc=(
        "GLOBAL CLUSTERING COEFFICIENT (triangle/wedge census) over "
        "the verified near-dup pair graph (the dedup_cluster_cc edge "
        "set) — complements graph_triangle_count (extras_r6: "
        "per-vertex counts, id orientation, user co-occurrence graph) "
        "with the whole-graph diagnostic and the degree-ordered "
        "orientation scale variant "
        "— the standard cohesion diagnostic for duplicate clusters: "
        "high clustering means tight verbatim families (safe to "
        "collapse to one representative), low clustering with high "
        "degree means chain-shaped borderline-similarity paths where "
        "transitive dedup over-merges. Exact integer output: edge/"
        "wedge/triangle counts BIGINT, coefficient in floor'd basis "
        "points (3T/W). Scale shape: Spark counts triangles over the "
        "DEGREE-ORDERED orientation (each edge points low→high "
        "(degree, id)) — the classic O(m^1.5) bound: every vertex's "
        "out-degree is O(sqrt(m)) regardless of hub size, so the "
        "wedge join's per-key fan-out is bounded where an id-ordered "
        "orientation lets one low-id hub generate quadratic wedges. "
        "Two shuffles over edge-sized data (degree agg, wedge "
        "equi-join) + one edge-keyed closing join; the pair graph "
        "itself is LSH-bounded (no all-pairs), reused verbatim from "
        "the cluster family (corpus._near_dup_pairs)."
    ),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Canonical doc_a < doc_b pairs; the undirected edge set.
    e = _near_dup_pairs(spark, sf_dir, _TRI_THR).localCheckpoint()
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    # Degree-ordered orientation: u -> w iff (d_u, u) < (d_w, w).
    da = deg.select(F.col("v").alias("doc_a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("doc_b"), F.col("d").alias("db"))
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = (
        e.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(lo_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
            F.when(lo_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("w"),
        )
        .localCheckpoint()
    )
    # Wedges u->v, u->w (v != w) closed by an oriented v~w edge in
    # either direction (orientation is acyclic, so each triangle has
    # exactly one source vertex and is counted exactly once).
    o1 = oriented.select(F.col("u"), F.col("w").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("y"))
    wedges = o1.join(o2, "u").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("u", "w").alias("x"), F.greatest("u", "w").alias("y")
    )
    # EAGER checkpoint: the triangle census (two shuffle joins — the
    # op's entire cost) must run as a normal job, not inside the
    # 1-row broadcast's future below (audit_broadcast_subtrees r13:
    # an SMJ pipeline under a BroadcastExchange dies on
    # spark.sql.broadcastTimeout at scale — the dedup_lsh_tune class).
    tri = (
        wedges.join(closing, ["x", "y"])
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .localCheckpoint(eager=True)
    )
    # COALESCE both census sums so an empty pair graph yields 0s on
    # both engines (SUM over zero rows is NULL; the oracle's n_edges
    # scalar-subquery COUNT would read 0 and hash-diverge otherwise).
    counts = deg.agg(
        F.expr("CAST(coalesce(sum(d), 0) div 2 AS BIGINT)").alias("n_edges"),
        F.expr("CAST(coalesce(sum(d * (d - 1) div 2), 0) AS BIGINT)").alias("n_wedges"),
    )
    return (
        counts.crossJoin(F.broadcast(tri))  # 1-row x 1-row assembly
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CAST(CASE WHEN n_wedges = 0 THEN 0 "
                "ELSE (3 * n_triangles * 10000) div n_wedges END AS BIGINT)"
            ).alias("global_cc_bp"),
        )
    )


# ---------------------------------------------------------------------------
# evt_markov_transition


@register(
    "evt_markov_transition",
    oracle=(
        "WITH seq AS (SELECT user_id, event_type, "
        "lag(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS prev_type FROM events "
        "WHERE ts IS NOT NULL), "
        "tc AS (SELECT prev_type AS from_type, event_type AS to_type, "
        "CAST(COUNT(*) AS BIGINT) AS n_trans FROM seq "
        "WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type) "
        "SELECT from_type, to_type, n_trans, "
        "CAST((n_trans * 1000000) // SUM(n_trans) OVER "
        "(PARTITION BY from_type) AS BIGINT) AS p_micro "
        "FROM tc"
    ),
    doc=(
        "FIRST-ORDER MARKOV TRANSITION MATRIX over per-user event "
        "sequences — the sequence-analytics sibling of ext_ngram_lm's "
        "text bigram table (training_extra.py): lag(event_type) per "
        "user ordered by (ts, event_id), transition counts, and "
        "conditional probabilities in fixed-point micro-units "
        "(n·10⁶ div row-total — integer end-to-end, the repo's "
        "cross-engine-exact ratio discipline). Production uses: "
        "behavioral cohorting, next-event prediction baselines, "
        "synthetic-sequence generation seeds, and drift detection "
        "between snapshots of the matrix. Scale shape: ONE corpus "
        "shuffle (user_id for the lag window); the transition count "
        "is map-side combinable into a type²-bounded table, and the "
        "row-normalizing window runs on that tiny table coalesced to "
        "a single partition — no further exchange (the "
        "txt_lm_doc_score r7 pattern)."
    ),
)
def evt_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeless events are not sequence members — excluded on BOTH
    # engines (r17 hostile vintage; the sessionize rule)
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    tc = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n_trans"))
    )
    # type²-bounded table: single-partition window needs no exchange
    # (SinglePartition satisfies the clustering requirement).
    return tc.coalesce(1).select(
        "from_type",
        "to_type",
        "n_trans",
        F.expr(
            "CAST((n_trans * 1000000L) div sum(n_trans) over "
            "(partition by from_type) AS BIGINT)"
        ).alias("p_micro"),
    )
