"""Round-12 third batch: the gaps the r12c analysis grep confirmed
the 265-id registry still lacks — each a distinct ANALYSIS (per the
§9.0b near-dup rule), not a new id over a covered one:

- txt_bm25_topk — LEXICAL RETRIEVAL: given a query-term set, rank
  documents by BM25. txt_tfidf_topterms answers "what are this
  document's key terms" (per-doc top terms, no query side);
  ext_sim_topk / sim_knn_bucket_join rank by EMBEDDING cosine. No
  registry op scores documents against a text query — the
  keyword-search / hybrid-retrieval half every corpus platform pairs
  with its vector index is missing, and this is it.
- agg_assoc_pairs — MARKET-BASKET association rules (support /
  confidence / lift over items co-occurring in the same transaction,
  with the a-priori frequent-item prefilter). ext_ngram_collocations
  mines ADJACENT token bigrams from a sequence (lag shape over a
  token stream); this mines UNORDERED set co-occurrence within a
  grouping key (self-join-per-basket shape over lineitem), the
  classic warehouse affinity analysis. Different table, different
  unit, different data movement; the analysis — "which items appear
  together in one order more than chance" — is computed nowhere.
- ml_perceptron_round — SUPERVISED LINEAR CLASSIFIER on the
  embedding space (two unrolled batch-perceptron rounds in
  fixed-point BIGINT), the fastText-style quality-filter core every
  pretraining pipeline trains over document embeddings. The ml
  family covers scalar-threshold weak learners (ml_decision_stump /
  ml_gbdt_round), token models (ml_naive_bayes), and UNSUPERVISED
  vector ops (ml_kmeans*, vec_centroid_label); nothing learns a
  supervised decision boundary in vector space. Perceptron rather
  than logistic/softmax so the update rule is transcendental-free
  (the repo's fixed-point hash rule — exp() never enters).

Rejected this grep (recorded for the next one): vec_embed_audit
(per-vector norm/dim QA before an index build — the signals are real
but the analysis is etl_dq_checks/ext_dataset_card's "is this table
healthy" applied to embeddings; near-dup), ts_cross_correlation
(lead-lag between two event types — same machinery as ts_autocorr
with a different pairing; sibling too near), etl_fk_discovery
(inclusion-dependency profiling — orphan-rate over a column-pair
grid, i.e. etl_dq_checks's analysis as a sweep).

Reference parity: the reference (a DuckDB loan-ETL take-home,
pipeline.py / queries.sql) has none of these; they extend the
text-retrieval and warehouse-analytics families per the build
charter. Both follow the repo determinism rules (registry.py): exact
integer counts shuffled and summed, per-row double math only with
IDENTICAL fully-parenthesized expression trees in both engines
(the dedup_lsh_tune / ext_ngram_collocations precedent), floor to
fixed-point micro-units before any aggregation or ranking, and
deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.textops import TOK_SQL, tokens
from duckdb_data_eng_proj_spark.queries.registry import register, t

# ---------------------------------------------------------------------------
# txt_bm25_topk

# Fixed query workload: distinct-term keyword queries over the
# synthetic corpus vocabulary. Literal in both engines.
_BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q_join", ("join", "merge", "hash")),
    ("q_scan", ("scan", "filter", "table")),
    ("q_stream", ("stream", "window", "batch")),
    ("q_vector", ("vector", "data", "big")),
)
_BM25_TERMS: tuple[str, ...] = tuple(
    sorted({w for _, ws in _BM25_QUERIES for w in ws})
)
_BM25_K = 5  # docs returned per query

# BM25 constants as exact decimal literals (k1 = 1.2, b = 0.75; the
# derived 2.2 = k1 + 1, 0.25 = 1 - b). Both engines parse each literal
# to the same nearest double (IEEE decimal->binary is correctly
# rounded), and every expression below is fully parenthesized so the
# operation TREES are identical — per-row double math is cross-engine
# exact when the trees match (registry.py determinism rules).

# Rational idf (N - df + 0.5)/(df + 0.5) == (2N - 2df + 1)/(2df + 1):
# strictly positive and monotone-decreasing in df. The classic
# Robertson idf is ln() of this quantity — a monotone transform — so
# per-term orderings agree; keeping the rational form keeps ln() out
# of the hash path (the txt_tfidf_topterms / ext_ngram_collocations
# fixed-point rule).
_BM25_IDF_SQL = (
    "((((2.0 * CAST(n AS DOUBLE)) - (2.0 * CAST(df AS DOUBLE))) + 1.0) "
    "/ ((2.0 * CAST(df AS DOUBLE)) + 1.0))"
)
# Term-frequency saturation tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# with avgdl = tt/n folded in as (dl * n) / tt.
_BM25_SAT_SQL = (
    "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + (1.2 * (0.25 + "
    "(((0.75 * CAST(dl AS DOUBLE)) * CAST(n AS DOUBLE)) "
    "/ CAST(tt AS DOUBLE))))))"
)
_BM25_TERM_U_SQL = (
    f"CAST(floor(({_BM25_IDF_SQL} * {_BM25_SAT_SQL}) * 1000000.0) AS BIGINT)"
)

_BM25_Q_SQL = ", ".join(
    f"{{'query_id': '{qid}', 'term': '{w}'}}"
    for qid, ws in _BM25_QUERIES
    for w in ws
)
_BM25_IN_SQL = ", ".join(f"'{w}'" for w in _BM25_TERMS)


def _bm25_idf_col() -> F.Column:
    """Spark mirror of _BM25_IDF_SQL — identical association order."""
    n_d = F.col("n").cast("double")
    df_d = F.col("df").cast("double")
    return ((F.lit(2.0) * n_d) - (F.lit(2.0) * df_d) + F.lit(1.0)) / (
        (F.lit(2.0) * df_d) + F.lit(1.0)
    )


def _bm25_sat_col() -> F.Column:
    """Spark mirror of _BM25_SAT_SQL — identical association order."""
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    n_d = F.col("n").cast("double")
    tt_d = F.col("tt").cast("double")
    return (tf_d * F.lit(2.2)) / (
        tf_d
        + (
            F.lit(1.2)
            * (F.lit(0.25) + (((F.lit(0.75) * dl_d) * n_d) / tt_d))
        )
    )


@register(
    "txt_bm25_topk",
    oracle=(
        f"WITH toks AS (SELECT doc_id, {TOK_SQL} AS tk FROM documents), "
        "occ AS (SELECT doc_id, unnest(tk) AS token FROM toks), "
        "dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl "
        "FROM occ GROUP BY doc_id), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM occ), "
        "q AS (SELECT u.query_id AS query_id, u.term AS term "
        f"FROM (SELECT unnest([{_BM25_Q_SQL}]) AS u)), "
        "tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf "
        f"FROM occ WHERE token IN ({_BM25_IN_SQL}) GROUP BY doc_id, token), "
        "dft AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df "
        f"FROM occ WHERE token IN ({_BM25_IN_SQL}) GROUP BY token), "
        "sc AS (SELECT q.query_id, tf.doc_id, "
        f"{_BM25_TERM_U_SQL} AS term_u "
        "FROM q JOIN tf ON tf.token = q.term "
        "JOIN dft ON dft.token = q.term "
        "JOIN dlt ON dlt.doc_id = tf.doc_id, g), "
        "agg AS (SELECT query_id, doc_id, "
        "CAST(COUNT(*) AS BIGINT) AS n_terms, "
        "CAST(SUM(term_u) AS BIGINT) AS score_u "
        "FROM sc GROUP BY query_id, doc_id), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY score_u DESC, doc_id) AS rk FROM agg) "
        "SELECT query_id, doc_id, n_terms, score_u, rk FROM rk "
        f"WHERE rk <= {_BM25_K}"
    ),
    doc=(
        "BM25 TOP-K LEXICAL RETRIEVAL — the keyword-search half of a "
        "hybrid retrieval stack (the vector half is sim_ann_ivf_search "
        "/ sim_knn_bucket_join). For a fixed query workload, rank "
        "documents by the BM25 score with k1=1.2, b=0.75: per matched "
        "term, idf x tf-saturation, where idf is the RATIONAL "
        "Robertson quantity (N - df + 0.5)/(df + 0.5) (its ln() is "
        "the textbook form — a monotone transform, kept out of the "
        "hash path per the repo's transcendental-free rule) and the "
        "saturation folds avgdl = tt/N in as (dl*N)/tt. Each term "
        "score is per-row double math on IDENTICAL fully-parenthesized "
        "expression trees in both engines, floored to BIGINT "
        "micro-units BEFORE the per-(query, doc) sum, so the sum is "
        "exact and associative; ranking ties break on doc_id. Scale "
        "shape: TWO passes over the checkpointed token stream — the "
        "doc-length aggregate and the query-term-filtered tf "
        "aggregate (the filter reaches the stream before any shuffle, "
        "so the tf table is postings-sized, not corpus-sized) — and "
        "everything else is a rollup of those two tables: corpus "
        "totals from dl (tt = SUM(dl), n = COUNT(*)), df from tf "
        "(one row per (doc, token), so COUNT(*) per token is the "
        "distinct-doc count). df and the query map are |Q|-row "
        "broadcasts; the one non-broadcast join (tf x dl) is "
        "doc-keyed; the final top-k is a per-query rank window over "
        "scored docs. No corpus-sized broadcast, no pair joins — at "
        "100 TB the cost is one tokenize scan plus postings-sized "
        "shuffles, the inverted-index build cost."
    ),
    tags=("text", "retrieval"),
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    occ = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).localCheckpoint(eager=False)
    # Two corpus passes total: dl and tf each aggregate the token
    # stream once; the corpus totals are a rollup OF the dl table
    # (tt = SUM(dl), n = COUNT(*) — same values as counting occ) and
    # df is a rollup OF the tf table (one row per (doc, token), so
    # COUNT(*) per token == COUNT(DISTINCT doc_id) over the filtered
    # stream). The oracle spells all four over occ directly — same
    # values, and its engine CSEs the CTE.
    dlt = occ.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    g = dlt.agg(
        F.sum("dl").cast("bigint").alias("tt"),
        F.count("*").cast("bigint").alias("n"),
    )
    qrows = [
        (qid, w) for qid, ws in _BM25_QUERIES for w in ws
    ]
    q = spark.createDataFrame(qrows, "query_id string, term string")
    tf = (
        occ.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dft = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    sc = (
        tf.join(F.broadcast(q), tf["token"] == q["term"])
        .join(F.broadcast(dft.withColumnRenamed("token", "dft_token")),
              F.col("term") == F.col("dft_token"))
        .join(dlt, "doc_id")
        .crossJoin(F.broadcast(g))
        .select(
            "query_id",
            "doc_id",
            F.floor((_bm25_idf_col() * _bm25_sat_col()) * F.lit(1000000.0))
            .cast("bigint")
            .alias("term_u"),
        )
    )
    agg = sc.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("term_u").cast("bigint").alias("score_u"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_K)
        .select("query_id", "doc_id", "n_terms", "score_u", "rk")
    )


# ---------------------------------------------------------------------------
# agg_assoc_pairs

# a-priori support floor: an item must appear in >= 0.1% of baskets
# to participate in pairing (the frequent-item lemma: a frequent PAIR
# requires both MEMBERS frequent, so pruning singles prunes pairs
# soundly). Expressed as n*1000 >= n_baskets — pure integers.
_ASSOC_SUP_PERMILLE = 1
_ASSOC_MIN_PAIR = 2  # a pair seen once is noise, not affinity
_ASSOC_TOPK = 50


@register(
    "agg_assoc_pairs",
    oracle=(
        "WITH items AS (SELECT DISTINCT l_orderkey AS bk, "
        "l_partkey AS item FROM lineitem), "
        "nbt AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS nb "
        "FROM items), "
        "cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM items GROUP BY item), "
        "freq AS (SELECT c.item, c.n FROM cnt c, nbt "
        f"WHERE c.n * 1000 >= nbt.nb * {_ASSOC_SUP_PERMILLE}), "
        "fi AS (SELECT i.bk, i.item FROM items i "
        "JOIN freq f ON f.item = i.item), "
        "pairs AS (SELECT a.item AS item_a, b.item AS item_b, "
        "CAST(COUNT(*) AS BIGINT) AS pair_baskets "
        "FROM fi a JOIN fi b ON a.bk = b.bk AND a.item < b.item "
        f"GROUP BY a.item, b.item HAVING COUNT(*) >= {_ASSOC_MIN_PAIR}), "
        "scored AS (SELECT p.item_a, p.item_b, p.pair_baskets, "
        "ca.n AS a_baskets, cb.n AS b_baskets, "
        "(p.pair_baskets * 1000000) // nbt.nb AS support_u, "
        "(p.pair_baskets * 1000000) // ca.n AS conf_ab_u, "
        "(p.pair_baskets * 1000000) // cb.n AS conf_ba_u, "
        "((p.pair_baskets * nbt.nb) * 1000000) // (ca.n * cb.n) "
        "AS lift_u "
        "FROM pairs p JOIN freq ca ON ca.item = p.item_a "
        "JOIN freq cb ON cb.item = p.item_b, nbt) "
        "SELECT item_a, item_b, pair_baskets, a_baskets, b_baskets, "
        "support_u, conf_ab_u, conf_ba_u, lift_u FROM scored "
        f"ORDER BY lift_u DESC, item_a, item_b LIMIT {_ASSOC_TOPK}"
    ),
    doc=(
        "MARKET-BASKET ASSOCIATION RULES — support, confidence (both "
        "directions), and lift for item PAIRS co-occurring in the "
        "same order, the warehouse affinity analysis "
        "(ext_ngram_collocations is the sequence-adjacency sibling "
        "over token streams; this is UNORDERED set co-occurrence "
        "within a transaction). All scores are exact integer "
        "arithmetic: counts are BIGINT, each metric is one integer "
        "floor-division to micro-units (all operands positive, so "
        "DuckDB // and Spark DIV agree), lift = "
        "pair*nb*1e6 DIV (a*b) — no doubles anywhere. The a-priori "
        "lemma is the scale story: an item must clear the 0.1%-of-"
        "baskets support floor BEFORE pairing, and the frequent-item "
        "table is VOCABULARY-sized, so it broadcast-joins to prune "
        "the basket stream; pairs are then generated by INTRA-ARRAY "
        "combination explode over each basket's sorted frequent-item "
        "set (per-basket C(k,2) fan-out, never cross-basket, NO join "
        "at pair time — the oracle's basket-keyed self-join is the "
        "relational spelling of the same pairs), the pair aggregate "
        "map-side combines, the >= 2-basket HAVING kills the "
        "singleton-pair tail before scoring, and scoring joins the "
        "pair table back to two vocabulary-sized broadcast count "
        "tables + a 1-row total. Deterministic (lift, item_a, "
        "item_b) top-50. At 100 TB nothing larger than the pruned "
        "basket stream is ever shuffled, and no exchange moves more "
        "than (basket, item-set) rows or pair-count rows."
    ),
    tags=("agg", "mining"),
)
def agg_assoc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r20: no ensure_parallelism — the first operator is the
    # basket-keyed groupBy, whose partial (map-side) aggregation runs
    # on the scan splits directly; the round-robin repartition bought
    # nothing but a full extra exchange of lineitem (the
    # join_interval_overlap finding).
    li = t(spark, sf_dir, "lineitem")
    # One basket-keyed shuffle builds the per-basket item SET; every
    # later stage reads this basket-bounded table, so pairs are
    # generated by INTRA-ARRAY combination explode — no join at pair
    # time (the oracle's fi-self-join is the relational spelling of
    # the same pairs).
    bkt = (
        li.groupBy(F.col("l_orderkey").alias("bk"))
        .agg(F.collect_set("l_partkey").alias("its"))
        .localCheckpoint(eager=False)
    )
    nbt = bkt.agg(F.count("*").cast("bigint").alias("nb"))
    cnt = (
        bkt.select(F.explode("its").alias("item"))
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # EAGER checkpoint: freq broadcasts three times below, and its
    # assembly contains the 1-row-nbt BroadcastNestedLoopJoin — benign
    # at runtime, but it put a Join under each of those
    # BroadcastExchanges (ADVICE r12) and recomputed the support
    # filter per broadcast. Materialized once, every broadcast subtree
    # is a bare scan of the vocabulary-sized RDD, join-free.
    freq = (
        cnt.crossJoin(F.broadcast(nbt))
        .filter(
            F.col("n") * F.lit(1000) >= F.col("nb") * F.lit(_ASSOC_SUP_PERMILLE)
        )
        .select("item", "n")
        .localCheckpoint(eager=True)
    )
    # a-priori prune, then re-collect the SORTED frequent-item array
    # per basket (sortedness makes item_a < item_b structural).
    fi = (
        bkt.select("bk", F.explode("its").alias("item"))
        .join(F.broadcast(freq.select("item")), "item")
        .groupBy("bk")
        .agg(F.sort_array(F.collect_set("item")).alias("its"))
        .filter(F.size("its") >= 2)
    )
    sz = F.size("its")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), sz - 2),
            lambda i: F.transform(
                F.sequence(i + 1, sz - 1),
                lambda j: F.struct(
                    F.element_at(F.col("its"), i + 1).alias("item_a"),
                    F.element_at(F.col("its"), j + 1).alias("item_b"),
                ),
            ),
        )
    )
    pairs = (
        fi.select(F.explode(pair_structs).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("pair_baskets"))
        .filter(F.col("pair_baskets") >= _ASSOC_MIN_PAIR)
    )
    ca = freq.select(F.col("item").alias("item_a"), F.col("n").alias("a_baskets"))
    cb = freq.select(F.col("item").alias("item_b"), F.col("n").alias("b_baskets"))
    scored = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(nbt))
        .select(
            "item_a",
            "item_b",
            "pair_baskets",
            "a_baskets",
            "b_baskets",
            # BIGINT ceiling (documented, DEPLOYMENT.md §overflow): the
            # lift numerator pair_baskets*nb*1e6 overflows int64 once
            # nb*pair_baskets exceeds ~9.2e12 — at the 100 TB posture
            # (nb ~1.5e10 baskets) that is pair_baskets ~600, i.e. real.
            # DuckDB raises on overflow; non-ANSI Spark wraps silently —
            # past the ceiling, promote BOTH sides to DECIMAL/HUGEINT.
            F.expr("(pair_baskets * 1000000) DIV nb").alias("support_u"),
            F.expr("(pair_baskets * 1000000) DIV a_baskets").alias("conf_ab_u"),
            F.expr("(pair_baskets * 1000000) DIV b_baskets").alias("conf_ba_u"),
            F.expr(
                "((pair_baskets * nb) * 1000000) DIV (a_baskets * b_baskets)"
            ).alias("lift_u"),
        )
    )
    return scored.orderBy(
        F.col("lift_u").desc(), "item_a", "item_b"
    ).limit(_ASSOC_TOPK)


# ---------------------------------------------------------------------------
# ml_perceptron_round

_PCT_DIM = 64  # embedding dimensionality (filtered, not assumed)
_PCT_POS = 0  # one-vs-rest positive class: label == 0


@register(
    "ml_perceptron_round",
    oracle=(
        "WITH pts AS (SELECT vec_id, "
        f"CAST(CASE WHEN label = {_PCT_POS} THEN 1 ELSE -1 END AS BIGINT) "
        "AS y, t.d AS dim, "
        "CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1000000.0) "
        "AS BIGINT) AS xu "
        f"FROM embeddings, range({_PCT_DIM}) t(d) "
        f"WHERE len(embedding) = {_PCT_DIM}), "
        "w1 AS (SELECT dim, CAST(SUM(y * xu) AS BIGINT) AS w1_u "
        "FROM pts GROUP BY dim), "
        "mg AS (SELECT p.vec_id, p.y, "
        "CAST(SUM(w.w1_u * p.xu) AS BIGINT) AS m "
        "FROM pts p JOIN w1 w ON w.dim = p.dim "
        "GROUP BY p.vec_id, p.y), "
        "mis AS (SELECT vec_id FROM mg WHERE y * m <= 0), "
        "nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_miscls FROM mis), "
        "upd AS (SELECT p.dim, CAST(SUM(p.y * p.xu) AS BIGINT) AS d_u "
        "FROM pts p JOIN mis USING (vec_id) GROUP BY p.dim) "
        "SELECT w1.dim AS dim, w1.w1_u AS w1_u, "
        "CAST(w1.w1_u + COALESCE(u.d_u, 0) AS BIGINT) AS w2_u, "
        "nm.n_miscls AS n_miscls "
        "FROM w1 LEFT JOIN upd u ON u.dim = w1.dim, nm "
        "ORDER BY dim"
    ),
    doc=(
        "BATCH PERCEPTRON over the embedding table — the supervised "
        "linear-classifier core of an embedding-based quality filter "
        "(train a cheap linear probe on labeled vectors, score the "
        "corpus with it; the scoring pass is a broadcast dot product, "
        "sim_ann_ivf's argmax shape). Two unrolled rounds from w0 = "
        "0, one-vs-rest on label 0: with a zero start every point is "
        "a mistake, so round 1 is the class-signed feature sum "
        "w1[d] = SUM(y * x_u[d]); round 2 re-scores every vector "
        "against the broadcast w1 (margin = SUM(w1[d] * x_u[d]), "
        "exact BIGINT), takes the mistake set y*m <= 0, and adds the "
        "classic mistake-driven update w2 = w1 + SUM_mistakes(y*x_u). "
        "Components are floored to 1e-6 fixed-point BEFORE any "
        "aggregation, so every sum is exact integer and the margins "
        "are cross-engine bit-equal — perceptron rather than "
        "logistic, so no exp() enters the hash path (the repo "
        "fixed-point rule; at these magnitudes the BIGINT margin "
        "ceiling is ~1e9 training vectors). Scale shape: the model "
        "is |dim|-row at every step and BROADCASTS (ml_naive_bayes's "
        "model-side rule — the corpus never shuffles for the model); "
        "the three corpus-sized aggregates (w1, margins, update) are "
        "map-side-combinable dim- or vec-keyed sums over the "
        "checkpointed component explode; the mistake set joins back "
        "vec-keyed. Output: per-dim (w1_u, w2_u) + the round-1 "
        "mistake count."
    ),
    tags=("ml", "vectors"),
)
def ml_perceptron_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(t(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") == _PCT_DIM
    )
    y = F.when(F.col("label") == _PCT_POS, F.lit(1)).otherwise(F.lit(-1)).cast(
        "bigint"
    )
    pts = e.select(
        "vec_id",
        y.alias("y"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "y",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(1000000.0))
        .cast("bigint")
        .alias("xu"),
    ).localCheckpoint(eager=False)
    w1 = pts.groupBy("dim").agg(
        F.sum(F.col("y") * F.col("xu")).cast("bigint").alias("w1_u")
    )
    mg = (
        pts.join(F.broadcast(w1), "dim")
        .groupBy("vec_id", "y")
        .agg(F.sum(F.col("w1_u") * F.col("xu")).cast("bigint").alias("m"))
    )
    # EAGER checkpoint: the mistake set feeds BOTH nm and upd, and its
    # subtree is the full corpus-scale margin pipeline (SMJ + broadcast
    # join + two aggregates). Materializing it here (a) computes the
    # margin pass exactly once instead of twice, and (b) truncates the
    # lineage so nothing downstream ever re-executes that pipeline
    # inside a broadcast future — the dedup_lsh_tune broadcast-timeout
    # lesson, which ADVICE r12 showed the previous shape still violated
    # via F.broadcast(upd)/F.broadcast(nm).
    mis = (
        mg.filter(F.col("y") * F.col("m") <= 0)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    nm = mis.agg(F.count("*").cast("bigint").alias("n_miscls"))
    # merge hint: the mistake set is CORPUS-derived (worst case every
    # vector) — vec-keyed shuffle semi-join, never broadcast.
    upd = (
        pts.join(mis.hint("merge"), "vec_id", "semi")
        .groupBy("dim")
        .agg(F.sum(F.col("y") * F.col("xu")).cast("bigint").alias("d_u"))
    )
    # upd/w1 are |dim|-row but upd's subtree contains the corpus
    # semi-join: shuffle-merge the dim join (64 rows — the exchange is
    # free) rather than placing that subtree under a BroadcastExchange.
    # nm broadcasts safely now: post-checkpoint its subtree is a bare
    # count over the materialized mistake RDD, join-free.
    return (
        w1.join(upd.hint("merge"), "dim", "left")
        .crossJoin(F.broadcast(nm))
        .select(
            "dim",
            "w1_u",
            (F.col("w1_u") + F.coalesce(F.col("d_u"), F.lit(0)))
            .cast("bigint")
            .alias("w2_u"),
            "n_miscls",
        )
        .orderBy("dim")
    )
