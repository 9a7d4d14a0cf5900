"""Round-6 batch 2: span-level exact dedup, bloom-prefilter joins,
exact distributed quantiles, grouped linear regression, and TF-IDF
term scoring.

- dedup_span_exact — the exact-substring dedup stage of training-data
  pipelines (Lee et al., "Deduplicating Training Data Makes Language
  Models Better"): repeated token windows across documents, found via
  an inverted index on rolling window hashes — never pairwise.
- join_bloom_prefilter — the classic shuffle-volume cut: a compact
  bloom filter built from the dim side prefilters the fact table
  map-side before the exact join; false positives are removed by the
  join itself, so semantics are exact while shuffle input shrinks.
- agg_quantiles_exact — exact (interpolated) quantiles per group;
  Spark's percentile() is the built-in exact path (sort-based partial
  aggregation), cross-checked against an explicit R-7 formulation.
- agg_regr_linear — least-squares slope/intercept per group from
  decimal-exact moment sums (the SUM-of-raw-doubles trap avoided).
- txt_tfidf_topterms — per-document top terms by TF-IDF; scored in
  integer micro-units (tf·1e6/df) so ranking is cross-engine exact
  with no transcendental in the hash path.

Reference parity: none of these exist in the reference (pipeline.py,
queries.sql); they are north-star surface for the 100 TB engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.sketches import (
    KMV_K,
    KMV_SCALE,
    kmv_rank,
    kmv_rank_sql,
    kmv_top_k,
    kmv_top_k_sql,
    md5_int,
    md5_int_sql,
    md5_slot,
    md5_slot_sql,
)
from duckdb_data_eng_proj_spark.operators.textops import TOK_SQL, tokens, word_ngrams
from duckdb_data_eng_proj_spark.operators.timeseries import (
    HOURLY_COUNTS_SQL,
    hourly_counts,
    points,
    points_sql,
)
from duckdb_data_eng_proj_spark.queries.registry import register, t


# ---------------------------------------------------------------------------
# dedup_span_exact

_SPAN_W = 8  # tokens per window (Lee et al. use 50; sized to testdata docs)


@register(
    "dedup_span_exact",
    oracle=(
        f"WITH toks AS (SELECT doc_id, {TOK_SQL} AS tk FROM documents), "
        "spans AS (SELECT doc_id, "
        "array_to_string(list_slice(tk, i + 1, "
        f"i + {_SPAN_W}), ' ') AS span "
        "FROM toks, LATERAL unnest(range(len(tk) - "
        f"{_SPAN_W} + 1)) t(i) "
        f"WHERE len(tk) >= {_SPAN_W}) "
        "SELECT md5(span) AS span_hash, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "CAST(COUNT(*) AS BIGINT) AS n_occ, "
        "min(span) AS span_text "
        "FROM spans GROUP BY md5(span) "
        "HAVING COUNT(DISTINCT doc_id) >= 2"
    ),
    doc=(
        "EXACT-SUBSTRING (span) dedup — the second dedup stage of "
        "modern pretraining pipelines (after whole-doc near-dup): "
        "find token windows of width W that recur across documents, "
        "e.g. shared boilerplate, licenses, quoted passages. "
        "Architecture is an INVERTED INDEX on rolling window hashes "
        "(tokenize → all W-token windows stride 1 → md5 → group by "
        "hash → keep hashes spanning ≥2 docs) — the distributed "
        "re-expression of the suffix-array approach in Lee et al.; "
        "never a pairwise doc join. Scale shape: one explode (rows "
        "× ~tokens) and ONE shuffle keyed by span hash with map-side "
        "partial counts; hot spans (a license header in millions of "
        "docs) are just large count cells, not join fan-out. The "
        "token array and the window array are both materialized "
        "behind projection barriers (the inlined-tokenizer re-eval "
        "trap). Reference: none (pipeline.py has no text surface)."
    ),
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= _SPAN_W
    )
    # Window array behind its own barrier: the n-gram join runs once
    # per window, not once per downstream reference. word_ngrams is
    # textops' shared sliding-window expression (r16: this block
    # previously re-inlined it).
    spans = toks.select(
        "doc_id", word_ngrams(F.col("tk"), _SPAN_W).alias("spans")
    ).select("doc_id", F.explode("spans").alias("span"))
    return (
        spans.groupBy(F.md5("span").alias("span_hash"))
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occ"),
            F.min("span").alias("span_text"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# join_bloom_prefilter

_BLOOM_M = 8192  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(j: int, item: str) -> str:
    return md5_slot_sql(f"'{j}:' || CAST({item} AS VARCHAR)", _BLOOM_M)


@register(
    "join_bloom_prefilter",
    oracle=(
        "WITH dim AS (SELECT o_orderkey FROM orders "
        "WHERE o_orderpriority = '1-URGENT'), "
        "bloom AS (SELECT DISTINCT pos FROM ("
        + " UNION ALL ".join(
            f"SELECT {_bloom_pos_sql(j, 'o_orderkey')} AS pos FROM dim"
            for j in range(_BLOOM_K)
        )
        + ") u), "
        "cand AS (SELECT l.l_orderkey, l.l_quantity, l.l_returnflag "
        "FROM lineitem l WHERE "
        + " AND ".join(
            f"EXISTS (SELECT 1 FROM bloom b "
            f"WHERE b.pos = {_bloom_pos_sql(j, 'l.l_orderkey')})"
            for j in range(_BLOOM_K)
        )
        + "), "
        "exact AS (SELECT c.* FROM cand c "
        "WHERE EXISTS (SELECT 1 FROM dim d "
        "WHERE d.o_orderkey = c.l_orderkey)) "
        "SELECT l_returnflag, "
        "CAST(COUNT(*) AS BIGINT) AS n_items, "
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates "
        "FROM exact GROUP BY l_returnflag"
    ),
    doc=(
        "BLOOM-PREFILTERED JOIN — the shuffle-volume cut every "
        "fact⋈dim engine applies at scale (Spark's own runtime filter "
        "under spark.sql.optimizer.runtime.bloomFilter, here built "
        "explicitly so the structure is visible and the ORACLE CAN "
        "VERIFY THE FILTER ITSELF): the dim side's join keys hash "
        "into an m=8192-bit / k=3 bloom set, the set broadcasts as a "
        "sorted position array, and the fact side drops every row "
        "whose k positions aren't all present — map-side, before any "
        "shuffle. False positives pass the bloom and are removed by "
        "the exact (broadcast) semi-join, so results are exact; the "
        "n_candidates output pins the bloom's exact candidate count "
        "cross-engine (md5-derived positions are bit-identical), so "
        "a membership bug can't hide behind the exact join. At "
        "100 TB: the bloom is a few KB regardless of fact size — the "
        "prefilter runs in the scan stage, cutting shuffle input by "
        "the dim selectivity before the join ever sees a row."
    ),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    dim = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")

    def pos(j: int, item):
        return md5_slot(F.concat(F.lit(f"{j}:"), item.cast("string")), _BLOOM_M)

    bloom = (
        dim.select(
            F.explode(
                F.array(*[pos(j, F.col("o_orderkey")) for j in range(_BLOOM_K)])
            ).alias("pos")
        )
        .agg(F.sort_array(F.collect_set("pos")).alias("bloom"))
    )
    # 1-row bloom array broadcast against the fact scan: the membership
    # predicate evaluates map-side inside the scan stage.
    member = F.lit(True)
    for j in range(_BLOOM_K):
        member = member & F.array_contains("bloom", pos(j, F.col("l_orderkey")))
    cand = (
        li.crossJoin(F.broadcast(bloom))
        .filter(member)
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .localCheckpoint(eager=False)
    )
    n_cand = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    exact = cand.join(F.broadcast(dim), cand.l_orderkey == dim.o_orderkey, "left_semi")
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
        )
        .crossJoin(F.broadcast(n_cand))
        .select("l_returnflag", "n_items", "sum_qty", "n_candidates")
    )


# ---------------------------------------------------------------------------
# agg_quantiles_exact

_QS = (0.25, 0.5, 0.75, 0.95)


@register(
    "agg_quantiles_exact",
    oracle=(
        # Mirrors Spark Percentile's exact arithmetic: position =
        # (n-1)*p in DOUBLE; result = (ceil(pos)-pos)*lower +
        # (pos-floor(pos))*higher, lower value when ceil==floor.
        "WITH v AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q "
        "FROM lineitem), "
        "r AS (SELECT l_returnflag, q, "
        "row_number() OVER (PARTITION BY l_returnflag ORDER BY q) - 1 AS rk, "
        "COUNT(*) OVER (PARTITION BY l_returnflag) AS n FROM v), "
        "s AS (SELECT l_returnflag, q, rk, n, "
        "lead(q, 1, q) OVER (PARTITION BY l_returnflag ORDER BY rk) "
        "AS lead_q FROM r) "
        "SELECT l_returnflag, "
        + ", ".join(
            (
                "max(CASE WHEN rk = CAST(floor((n-1) * CAST({p} AS DOUBLE)) "
                "AS BIGINT) THEN CASE "
                "WHEN ceil((n-1) * CAST({p} AS DOUBLE)) = "
                "floor((n-1) * CAST({p} AS DOUBLE)) THEN CAST(q AS DOUBLE) "
                "ELSE (ceil((n-1) * CAST({p} AS DOUBLE)) "
                "- (n-1) * CAST({p} AS DOUBLE)) * q "
                "+ ((n-1) * CAST({p} AS DOUBLE) "
                "- floor((n-1) * CAST({p} AS DOUBLE))) * lead_q "
                "END END) AS q{tag}"
            ).format(p=p, tag=str(p).replace("0.", ""))
            for p in _QS
        )
        + " FROM s GROUP BY l_returnflag"
    ),
    doc=(
        "EXACT grouped quantiles (R-7 linear interpolation, the "
        "percentile_cont contract) — Spark side uses the built-in "
        "percentile() exact aggregate; the oracle re-derives the same "
        "statistic from first principles (row_number + lead + the "
        "h=(n-1)p interpolation formula), so the check certifies the "
        "STATISTIC, not a shared implementation. Values are cast to "
        "BIGINT before aggregation: interpolation arithmetic on "
        "integers with identical literal fractions is IEEE-exact "
        "cross-engine, the repo's no-raw-double-sums rule. Scale "
        "shape: percentile() is a sort-based partial aggregate — one "
        "shuffle on the group key; for 100 TB-cardinality groups the "
        "documented alternative is approx_percentile (t-digest, "
        "mergeable, bounded memory) at a declared error bound."
    ),
)
def agg_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    out = [
        F.percentile(q, F.lit(p)).alias("q" + str(p).replace("0.", ""))
        for p in _QS
    ]
    return li.groupBy("l_returnflag").agg(*out)


# ---------------------------------------------------------------------------
# agg_regr_linear

_SLOPE_SQL = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
    "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
    "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)


@register(
    "agg_regr_linear",
    oracle=(
        "WITH pts AS (SELECT event_type, "
        "CAST(hour(ts) AS DECIMAL(10, 0)) AS x, "
        "CAST(value AS DECIMAL(18, 6)) AS y "
        "FROM events WHERE value IS NOT NULL), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "SUM(x) AS sx, SUM(x * x) AS sxx, SUM(y) AS sy, SUM(x * y) AS sxy "
        "FROM pts GROUP BY event_type) "
        "SELECT event_type, n, "
        "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
        f"THEN CAST(round(CAST(CAST({_SLOPE_SQL} AS VARCHAR) AS DECIMAL(38,18)), 6) "
        "AS DOUBLE) END AS slope, "
        "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
        f"THEN CAST(round(CAST(CAST((CAST(sy AS DOUBLE) - {_SLOPE_SQL} * CAST(sx AS DOUBLE)) "
        "/ CAST(n AS DOUBLE) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) "
        "END AS intercept "
        "FROM m"
    ),
    doc=(
        "Grouped LEAST-SQUARES REGRESSION (regr_slope / regr_intercept "
        "re-expressed): slope and intercept of value-vs-hour per event "
        "type from the classical moment sums. The moments are summed "
        "as DECIMAL (x integer, y decimal(18,6)) so partial-aggregation "
        "order can't perturb them — the repo's no-raw-double-SUM rule; "
        "only the final closed-form division happens in double, with "
        "an identical expression tree on both engines. One map-side-"
        "combinable shuffle on the group key; constant state per group "
        "(5 moments) — the textbook 100 TB-safe aggregate."
    ),
)
def agg_regr_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.hour("ts").cast("decimal(10,0)")
    y = F.col("value").cast("decimal(18,6)")
    m = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    den = n_d * sxx_d - sx_d * sx_d
    slope_raw = (n_d * sxy_d - sx_d * sy_d) / den
    # den = 0 (constant x) leaves the fit undefined: NULL on both
    # engines (r17 — Spark ANSI aborts the /0 where DuckDB yields
    # NaN/inf; den >= 0 by Cauchy-Schwarz so > 0 is the defined case)
    slope = F.when(den > 0, slope_raw)
    intercept = F.when(den > 0, (sy_d - slope_raw * sx_d) / n_d)
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# txt_tfidf_topterms

_TFIDF_K = 5


@register(
    "txt_tfidf_topterms",
    oracle=(
        f"WITH toks AS (SELECT doc_id, {TOK_SQL} AS tk FROM documents), "
        "occ AS (SELECT doc_id, unnest(tk) AS token FROM toks), "
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM occ "
        "GROUP BY doc_id, token), "
        "df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM occ "
        "GROUP BY token), "
        "scored AS (SELECT t.doc_id, t.token, "
        "CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df, "
        "CAST(floor(t.tf * 1000000.0 / d.df) AS BIGINT) AS score_ppm "
        "FROM tf t JOIN df d USING (token)), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY score_ppm DESC, token) AS rk FROM scored) "
        f"SELECT doc_id, token, tf, df, score_ppm FROM rk WHERE rk <= {_TFIDF_K}"
    ),
    doc=(
        "Per-document TOP TERMS by TF-IDF — the keyword/topic signal "
        "of corpus analytics. IDF is the linear 1/df variant scored "
        "in integer micro-units (floor(tf·1e6/df)) so ranking and "
        "hash are cross-engine EXACT — no transcendental (ln) in the "
        "comparison path, per the repo's fixed-point rule; the "
        "standard log-idf is a monotone transform of 1/df for fixed "
        "tf, so top-k membership differs only across tf strata, and "
        "the deterministic (score, token) tie-break pins borderline "
        "rows. Scale shape: tf = one shuffle on (doc, token) with "
        "map-side combine; df = one shuffle on token; the df table "
        "(vocabulary-sized) joins the tf table on token and the "
        "top-k window is rank-limited per doc — no corpus-sized "
        "broadcast, no pair joins."
    ),
)
def txt_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    occ = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).localCheckpoint(eager=False)
    tf = occ.groupBy("doc_id", "token").agg(F.count("*").cast("bigint").alias("tf"))
    df_t = occ.groupBy("token").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    scored = tf.join(df_t, "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.floor(F.col("tf") * F.lit(1000000.0) / F.col("df"))
        .cast("bigint")
        .alias("score_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "token", "tf", "df", "score_ppm")
    )


# ---------------------------------------------------------------------------
# vec_pq_adc_search

_ADC_K = 10  # neighbors per query
_ADC_QMOD = 100  # query batch: vec_id % 100 == 0


def _adc_oracle() -> str:
    from duckdb_data_eng_proj_spark.queries.extras_r6 import (
        _pq_assign_sql,
        _pq_dist_sql,
        _pq_sub_cte,
        _pq_update_sql,
        _PQ_K,
    )

    d = _pq_dist_sql("q.qsv", "c.c")
    return (
        # shared dim-conforming sub-block CTE (r16 — see extras_r6.
        # _pq_sub_cte; this oracle previously carried its own copy)
        f"WITH {_pq_sub_cte()}, "
        f"cent0 AS (SELECT m, vec_id AS cid, sv AS c FROM sub "
        f"WHERE vec_id < {_PQ_K}), "
        + _pq_assign_sql("a1", "cent0")
        + ", "
        + _pq_update_sql("c1", "a1")
        + ", "
        + _pq_assign_sql("a2", "c1")
        + ", "
        f"q AS (SELECT vec_id AS qid, m, sv AS qsv FROM sub "
        f"WHERE vec_id % {_ADC_QMOD} = 0), "
        "lut AS (SELECT q.qid, c.m, c.cid, "
        f"CAST(floor({d} * 1000000) AS BIGINT) AS du "
        "FROM q JOIN c1 c ON c.m = q.m), "
        "scores AS (SELECT l.qid, a.vec_id, "
        "CAST(SUM(l.du) AS BIGINT) AS adc_u "
        "FROM a2 a JOIN lut l ON l.m = a.m AND l.cid = a.cid "
        "GROUP BY l.qid, a.vec_id), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY qid "
        "ORDER BY adc_u, vec_id) AS rank FROM scores) "
        "SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, adc_u "
        f"FROM rk WHERE rank <= {_ADC_K}"
    )


@register(
    "vec_pq_adc_search",
    oracle=_adc_oracle(),
    doc=(
        "PQ ADC SEARCH — the query half of the product-quantization "
        "index (vec_pq_codebook is the build half): each query builds "
        "a LOOK-UP TABLE of distances to every codebook centroid "
        "(M×K=128 cells, floor'd to BIGINT micro-units), and every "
        "indexed vector's asymmetric distance is then the INTEGER sum "
        "of M table cells addressed by its codes — the corpus's raw "
        "floats are never touched at query time, which is the whole "
        "point: a 100 TB vector corpus searches from an 8-byte-per-"
        "vector code table. Determinism: per-cell floor then integer "
        "sum (associative, order-free) with (adc_u, vec_id) ranking — "
        "the repo's fixed-point ANN convention. Scale shape: "
        "codebooks and per-query LUTs broadcast (queries×M×K rows); "
        "the code table streams through one broadcast join and one "
        "partial-aggregated shuffle keyed by (query, vector); top-k "
        "is a rank-limited window per query."
    ),
)
def vec_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.extras_r6 import _pq_train

    # c1 arrives eagerly checkpointed from _pq_train (r13: the
    # inter-iteration barrier), so it feeds both a2's argmin and the
    # LUT from one materialization — no extra checkpoint needed here.
    sub, c1, a2 = _pq_train(spark, sf_dir)

    def dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    q = sub.filter(F.col("vec_id") % _ADC_QMOD == 0).select(
        F.col("vec_id").alias("qid"), "m", F.col("sv").alias("qsv")
    )
    # EAGER checkpoint: the LUT broadcasts below, and its subtree is
    # the query scan joined with the codebooks — that join must run as
    # a normal job, not inside the broadcast future
    # (audit_broadcast_subtrees r13). The VALUE is
    # |queries|×M×K rows — broadcast-bounded by construction.
    lut = (
        q.join(F.broadcast(c1), "m")
        .select(
            "qid",
            "m",
            "cid",
            F.floor(dist(F.col("qsv"), F.col("c")) * 1000000)
            .cast("bigint")
            .alias("du"),
        )
        .localCheckpoint(eager=True)
    )
    scores = (
        a2.select("vec_id", "m", "cid")
        .join(F.broadcast(lut), ["m", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("du").cast("bigint").alias("adc_u"))
    )
    w = Window.partitionBy("qid").orderBy("adc_u", "vec_id")
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ADC_K)
        .select("qid", F.col("rank").cast("bigint").alias("rank"), "vec_id", "adc_u")
    )


# ---------------------------------------------------------------------------
# evt_sequence_detect

_EVT_CH = {"click": "c", "error": "e", "purchase": "p", "signup": "s", "view": "v"}
_EVT_CH_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in sorted(_EVT_CH.items()))
    + " ELSE '?' END"
)


@register(
    "evt_sequence_detect",
    oracle=(
        f"WITH ch AS (SELECT user_id, ts, event_id, {_EVT_CH_SQL} AS c "
        "FROM events WHERE ts IS NOT NULL), "
        "seqs AS (SELECT user_id, "
        "string_agg(c, '' ORDER BY ts, event_id) AS seq, "
        "CAST(COUNT(*) AS BIGINT) AS n_events FROM ch GROUP BY user_id) "
        "SELECT user_id, seq, n_events, "
        "(seq LIKE '%s%p%') AS signup_then_purchase, "
        "CAST(len(regexp_extract_all(seq, 'vp')) AS BIGINT) AS n_view_purchase "
        "FROM seqs"
    ),
    doc=(
        "EVENT-SEQUENCE PATTERN DETECTION (the MATCH_RECOGNIZE / "
        "funnel-regex analytic): each user's event history collapses "
        "to an ordered character string (one char per event type, "
        "ordered by (ts, event_id) — fully deterministic), and "
        "behavioral patterns become plain regex/LIKE over that "
        "string: 'signup eventually followed by purchase' and the "
        "count of immediate view→purchase transitions. This is how "
        "sequence mining stays declarative at scale: ONE shuffle on "
        "user_id, per-user state bounded by the event count, and the "
        "pattern engine is the built-in regex — no per-row UDF, no "
        "iterative joins. The ordered collapse uses "
        "array_sort(collect_list(struct)) — the repo's deterministic "
        "ordered-aggregation recipe."
    ),
)
def evt_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeless events are not sequence members (r17, the sessionize rule)
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ch = F.col("event_type")
    expr = None
    for k, v in sorted(_EVT_CH.items()):
        expr = (
            F.when(ch == k, v) if expr is None else expr.when(ch == k, v)
        )
    expr = expr.otherwise("?")
    seqs = (
        e.select("user_id", "ts", "event_id", expr.alias("c"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "c"))
                    ),
                    lambda s: s["c"],
                ),
                "",
            ).alias("seq"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    return seqs.select(
        "user_id",
        "seq",
        "n_events",
        F.col("seq").like("%s%p%").alias("signup_then_purchase"),
        F.size(F.regexp_extract_all("seq", F.lit("vp"), 0))
        .cast("bigint")
        .alias("n_view_purchase"),
    )


# ---------------------------------------------------------------------------
# ts_resample_ohlc


@register(
    "ts_resample_ohlc",
    oracle=(
        "WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket, "
        "ts, event_id, value, "
        "row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) "
        "ORDER BY ts, event_id) AS rn_a, "
        "row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) "
        "ORDER BY ts DESC, event_id DESC) AS rn_d "
        f"FROM events WHERE {points_sql('user_id')} AND value IS NOT NULL) "
        "SELECT user_id, bucket, CAST(COUNT(*) AS BIGINT) AS n, "
        "max(CASE WHEN rn_a = 1 THEN value END) AS open, "
        "max(value) AS high, min(value) AS low, "
        "max(CASE WHEN rn_d = 1 THEN value END) AS close "
        "FROM b GROUP BY user_id, bucket"
    ),
    doc=(
        "OHLC RESAMPLING — the open/high/low/close candle aggregation "
        "of every metrics/finance pipeline (pandas resample().ohlc() "
        "re-expressed): per (series, hour bucket), open/close are the "
        "first/last observation by the deterministic (ts, event_id) "
        "order, high/low plain min/max. No double is ever summed — "
        "every output is an individual stored value, so cross-engine "
        "hashing is exact without fixed-point machinery. An event "
        "with a NULL user_id or ts is not a point (the time-series "
        "NULL rule), on both engines. Plan: both "
        "row_number windows and the final aggregate share the "
        "(user_id, bucket) clustering — ONE shuffle, two in-partition "
        "sorts, then a map-side-combinable agg."
    ),
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = points(t(spark, sf_dir, "events"), "user_id").filter(F.col("value").isNotNull())
    bucket = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    b = (
        e.select("user_id", bucket.alias("bucket"), "ts", "event_id", "value")
        .withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
    )
    return b.groupBy("user_id", "bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
    )


# ---------------------------------------------------------------------------
# ext_zorder_layout

_Z_BITS = 10  # bits per dimension
_Z_BUCKET_SHIFT = 14  # keep top 6 interleaved bits -> 64 buckets


def _z_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({x} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({y} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@register(
    "ext_zorder_layout",
    oracle=(
        "WITH pts AS (SELECT "
        "CAST(o_custkey % 1024 AS BIGINT) AS x, "
        "CAST(datediff('day', DATE '1970-01-01', o_orderdate) % 1024 "
        "AS BIGINT) AS y FROM orders WHERE o_orderdate IS NOT NULL), "
        f"z AS (SELECT x, y, {_z_sql('x', 'y')} AS zval FROM pts) "
        f"SELECT CAST(zval >> {_Z_BUCKET_SHIFT} AS BIGINT) AS bucket, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "min(x) AS min_x, max(x) AS max_x, "
        "min(y) AS min_y, max(y) AS max_y "
        "FROM z GROUP BY bucket"
    ),
    doc=(
        "Z-ORDER LAYOUT — the multi-dimensional clustering key behind "
        "data-skipping file layouts (Delta/Iceberg OPTIMIZE ZORDER): "
        "interleave the bits of two dimensions (customer, order-day) "
        "so that rows close in BOTH dimensions land in the same file "
        "bucket, making min/max file statistics selective for "
        "predicates on EITHER column. The output is the per-bucket "
        "row count and per-dimension min/max envelope — exactly the "
        "footer stats a scan planner would prune on; tight envelopes "
        "(side ≈ 2^(bits_kept/2)) are the correctness signal. The "
        "interleave is pure integer bit arithmetic (shift/mask/add) — "
        "codegen'd, map-side, cross-engine exact; the only shuffle is "
        "the final bounded-cardinality bucket aggregate. At 100 TB "
        "this expression is the sort/bucket key of the writer."
    ),
)
def ext_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    x = (F.col("o_custkey") % 1024).cast("bigint")
    y = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) % 1024).cast(
        "bigint"
    )
    pts = o.select(x.alias("x"), y.alias("y"))
    zval = None
    for i in range(_Z_BITS):
        tx = F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
        ty = F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)) * (
            1 << (2 * i + 1)
        )
        zval = tx + ty if zval is None else zval + tx + ty
    z = pts.select("x", "y", zval.alias("zval"))
    return (
        z.groupBy(
            F.shiftright(F.col("zval"), _Z_BUCKET_SHIFT)
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


# ---------------------------------------------------------------------------
# ext_sketch_kmv_intersect

@register(
    "ext_sketch_kmv_intersect",
    oracle=(
        "WITH pu AS (SELECT DISTINCT event_type, user_id FROM events), "
        "ph AS (SELECT event_type, "
        f"{md5_int_sql('CAST(user_id AS VARCHAR)', 1, 15)} AS h FROM pu), "
        f"sk AS ({kmv_top_k_sql('ph', 'event_type')}), "
        "ty AS (SELECT DISTINCT event_type FROM events), "
        "tp AS (SELECT a.event_type AS ta, b.event_type AS tb "
        "FROM ty a JOIN ty b ON a.event_type < b.event_type), "
        "u AS (SELECT tp.ta, tp.tb, s.h, s.event_type FROM tp "
        "JOIN sk s ON s.event_type IN (tp.ta, tp.tb)), "
        "g AS (SELECT ta, tb, h, COUNT(DISTINCT event_type) AS n_types "
        "FROM u GROUP BY ta, tb, h), "
        f"r AS (SELECT *, {kmv_rank_sql('ta, tb')} AS rn FROM g), "
        f"th AS (SELECT ta, tb, max(CASE WHEN rn <= {KMV_K} THEN h END) "
        "AS theta, "
        f"CAST(SUM(CASE WHEN rn <= {KMV_K} THEN 1 ELSE 0 END) AS BIGINT) "
        "AS k_eff FROM r GROUP BY ta, tb), "
        "c AS (SELECT r.ta, r.tb, CAST(COUNT(*) AS BIGINT) AS n_common "
        "FROM r JOIN th ON th.ta = r.ta AND th.tb = r.tb "
        "WHERE r.n_types = 2 AND r.h <= th.theta GROUP BY r.ta, r.tb), "
        "tru AS (SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS true_inter FROM ("
        "SELECT tp.ta, tp.tb, p.user_id, COUNT(DISTINCT p.event_type) AS nt "
        "FROM tp JOIN pu p ON p.event_type IN (tp.ta, tp.tb) "
        "GROUP BY tp.ta, tp.tb, p.user_id) x WHERE nt = 2 GROUP BY ta, tb) "
        "SELECT th.ta, th.tb, th.k_eff, "
        "COALESCE(c.n_common, 0) AS n_common, "
        f"CASE WHEN th.k_eff < {KMV_K} "
        "THEN CAST(COALESCE(c.n_common, 0) AS DOUBLE) "
        "ELSE CAST(round(CAST(CAST(COALESCE(c.n_common, 0) "
        f"* ({KMV_K - 1}.0 * {KMV_SCALE}.0 / th.theta) / {KMV_K}.0 "
        "AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) "
        "END AS est_inter, "
        "COALESCE(tru.true_inter, 0) AS true_inter "
        "FROM th LEFT JOIN c ON c.ta = th.ta AND c.tb = th.tb "
        "LEFT JOIN tru ON tru.ta = th.ta AND tru.tb = th.tb"
    ),
    doc=(
        "KMV SET-INTERSECTION estimate (the theta-sketch composition "
        "that completes the sketch family: ext_sketch_kmv = "
        "cardinality, agg_sketch_cms = frequency, this = set "
        "algebra): per event type, keep the K=64 smallest md5 user "
        "hashes; for each type pair, θ = K-th smallest of the hash "
        "UNION, and |A∩B| ≈ (common hashes ≤ θ) × est(|A∪B|) / K. "
        "Every step is deterministic md5 order statistics, so the "
        "oracle checks exact sketch cells AND the exact true "
        "intersection side-by-side. The 100 TB shape is the point: "
        "intersections compute on K-row SKETCHES (KB each, "
        "broadcast), never on the raw sets — the only corpus-sized "
        "work is the per-type distinct + top-K, one shuffle; "
        "sketches then compose associatively for any pair, the way "
        "production theta sketches serve set expressions from a "
        "sketch store."
    ),
)
def ext_sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    pu = e.select("event_type", "user_id").distinct()
    h60 = md5_int(F.col("user_id").cast("string"), 1, 15)
    ph = pu.select("event_type", h60.alias("h"))
    sk = kmv_top_k(ph, "event_type").localCheckpoint(eager=False)
    ty = e.select("event_type").distinct()
    tp = (
        ty.alias("a")
        .join(ty.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
    )
    u = tp.join(
        F.broadcast(sk),
        (F.col("event_type") == F.col("ta"))
        | (F.col("event_type") == F.col("tb")),
    )
    g = u.groupBy("ta", "tb", "h").agg(
        F.countDistinct("event_type").alias("n_types")
    )
    r = g.withColumn("rn", kmv_rank("ta", "tb")).localCheckpoint(eager=False)
    th = r.groupBy("ta", "tb").agg(
        F.max(F.when(F.col("rn") <= KMV_K, F.col("h"))).alias("theta"),
        F.sum(F.when(F.col("rn") <= KMV_K, 1).otherwise(0))
        .cast("bigint")
        .alias("k_eff"),
    )
    c = (
        r.join(th.select("ta", "tb", "theta"), ["ta", "tb"])
        .filter((F.col("n_types") == 2) & (F.col("h") <= F.col("theta")))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    # Verification-only exact truth: broadcast the TINY type-pair list
    # against the corpus-sized distinct-user set (ADVICE r6: the hint
    # sat on pu, which would OOM the broadcast at amplified volumes —
    # the sketch path above never touches pu pairwise).
    tru = (
        pu.join(
            F.broadcast(tp),
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("bigint").alias("true_inter"))
    )
    # COALESCE n_common INSIDE the estimate, mirroring the oracle: on
    # a disjoint pair with a full sketch (k_eff = 64) the left join
    # yields NULL here, and the oracle emits 0.0, not NULL (round-15
    # review; latent — current fixtures have no disjoint type pair).
    est_full = F.round(
        F.coalesce("n_common", F.lit(0))
        * (
            F.lit(float(KMV_K - 1))
            * F.lit(float(KMV_SCALE))
            / F.col("theta")
        )
        / F.lit(float(KMV_K)),
        2,
    )
    return (
        th.join(c, ["ta", "tb"], "left")
        .join(tru, ["ta", "tb"], "left")
        .select(
            "ta",
            "tb",
            "k_eff",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.when(
                F.col("k_eff") < KMV_K,
                F.coalesce("n_common", F.lit(0)).cast("double"),
            )
            .otherwise(est_full)
            .alias("est_inter"),
            F.coalesce("true_inter", F.lit(0))
            .cast("bigint")
            .alias("true_inter"),
        )
    )


# ---------------------------------------------------------------------------
# ext_ngram_collocations

_COLL_MIN_N = 5
_COLL_TOPK = 50


@register(
    "ext_ngram_collocations",
    oracle=(
        f"WITH toks AS (SELECT doc_id, {TOK_SQL} AS tk FROM documents), "
        "big AS (SELECT tk[i+1] || ' ' || tk[i+2] AS bg, "
        "tk[i+1] AS w1, tk[i+2] AS w2 "
        "FROM toks, LATERAL unnest(range(len(tk) - 1)) t(i) "
        "WHERE len(tk) >= 2), "
        "uni AS (SELECT unnest(tk) AS w FROM toks), "
        "nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM uni), "
        "nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM big), "
        "cb AS (SELECT bg, w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy "
        "FROM big GROUP BY bg, w1, w2), "
        "cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY w), "
        "lifted AS (SELECT cb.bg, cb.n_xy, u1.n AS n_x, u2.n AS n_y, "
        "CAST(floor((CAST(cb.n_xy AS DOUBLE) * nu.n_uni * nu.n_uni) "
        "/ (CAST(nb.n_big AS DOUBLE) * u1.n * u2.n) * 10000.0) AS BIGINT) "
        "AS lift_x4 "
        "FROM cb JOIN cu u1 ON u1.w = cb.w1 JOIN cu u2 ON u2.w = cb.w2, "
        "nu, nb "
        f"WHERE cb.n_xy >= {_COLL_MIN_N}) "
        "SELECT bg, n_xy, n_x, n_y, lift_x4 FROM lifted "
        f"ORDER BY lift_x4 DESC, bg LIMIT {_COLL_TOPK}"
    ),
    doc=(
        "COLLOCATION MINING by PMI-style lift: bigrams whose observed "
        "frequency most exceeds the independence expectation — "
        "lift = p(xy)/(p(x)p(y)) — surface multi-word expressions "
        "('machine learning') for tokenizer vocab and phrase-aware "
        "filters. Scored as floor(lift×1e4) with identical double "
        "expression trees both engines (no log: log-PMI is a "
        "monotone transform of lift, so ranking is unchanged and the "
        "hash path stays transcendental-free); support floor "
        "n_xy≥5 kills noise pairs; deterministic (lift, bigram) "
        "top-50. Scale shape: bigram and unigram counts are two "
        "map-side-combinable shuffles; corpus totals are 1-row "
        "broadcasts; the unigram join keys on the bounded "
        "vocabulary, and top-k is a TakeOrdered — no sort of the "
        "full bigram table."
    ),
)
def ext_ngram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(F.col("text")).alias("tk")).localCheckpoint(
        eager=False
    )
    big = (
        toks.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("tk"), i + 1).alias("w1"),
                        F.element_at(F.col("tk"), i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select(
            F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("bg"),
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )
        .localCheckpoint(eager=False)
    )
    uni = toks.select(F.explode("tk").alias("w")).localCheckpoint(eager=False)
    nu = uni.agg(F.count("*").cast("bigint").alias("n_uni"))
    nb = big.agg(F.count("*").cast("bigint").alias("n_big"))
    cb = big.groupBy("bg", "w1", "w2").agg(
        F.count("*").cast("bigint").alias("n_xy")
    ).filter(F.col("n_xy") >= _COLL_MIN_N)
    cu = uni.groupBy("w").agg(F.count("*").cast("bigint").alias("n"))
    u1 = cu.select(F.col("w").alias("w1"), F.col("n").alias("n_x"))
    u2 = cu.select(F.col("w").alias("w2"), F.col("n").alias("n_y"))
    lifted = (
        cb.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "bg",
            "n_xy",
            "n_x",
            "n_y",
            F.floor(
                (
                    F.col("n_xy").cast("double")
                    * F.col("n_uni")
                    * F.col("n_uni")
                )
                / (F.col("n_big").cast("double") * F.col("n_x") * F.col("n_y"))
                * F.lit(10000.0)
            )
            .cast("bigint")
            .alias("lift_x4"),
        )
    )
    return lifted.orderBy(F.col("lift_x4").desc(), "bg").limit(_COLL_TOPK)


# ---------------------------------------------------------------------------
# evt_time_to_convert


@register(
    "evt_time_to_convert",
    oracle=(
        "WITH f AS (SELECT user_id, "
        "min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts, "
        "min(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts "
        "FROM events GROUP BY user_id) "
        "SELECT user_id, CAST(signup_ts AS TIMESTAMP) AS signup_ts, "
        "CAST(purchase_ts AS TIMESTAMP) AS first_purchase_ts, "
        "CASE WHEN signup_ts IS NOT NULL AND purchase_ts IS NOT NULL "
        "AND purchase_ts >= signup_ts "
        "THEN CAST(date_diff('second', signup_ts, purchase_ts) AS BIGINT) "
        "END AS delta_s, "
        "(signup_ts IS NOT NULL AND purchase_ts IS NOT NULL "
        "AND purchase_ts >= signup_ts) AS converted "
        "FROM f WHERE signup_ts IS NOT NULL"
    ),
    doc=(
        "TIME-TO-CONVERT — the activation metric behind every funnel "
        "dashboard: per user, first signup timestamp, first purchase "
        "timestamp, and the signup→purchase latency in whole seconds "
        "(integer — no double time math). Conditional-min aggregation "
        "gives both landmarks in ONE map-side-combinable shuffle on "
        "user_id — no self-join of the events table, which is the "
        "naive formulation's scale killer."
    ),
)
def evt_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "signup_ts"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purchase_ts"
        ),
    )
    ok = (
        F.col("signup_ts").isNotNull()
        & F.col("purchase_ts").isNotNull()
        & (F.col("purchase_ts") >= F.col("signup_ts"))
    )
    return f.filter(F.col("signup_ts").isNotNull()).select(
        "user_id",
        "signup_ts",
        F.col("purchase_ts").alias("first_purchase_ts"),
        F.when(
            ok,
            F.col("purchase_ts").cast("long") - F.col("signup_ts").cast("long"),
        )
        .cast("bigint")
        .alias("delta_s"),
        ok.alias("converted"),
    )


# ---------------------------------------------------------------------------
# txt_code_detect

_CODE_SYM_RE = r"[{}()\[\];=<>]"
_CODE_KW_RE = (
    r"\b(def|return|import|class|function|var|const|if|else|for|while)\b"
)


@register(
    "txt_code_detect",
    oracle=(
        "WITH m AS (SELECT doc_id, lower(trim(text)) AS s, "
        "CAST(length(trim(text)) AS BIGINT) AS n_chars FROM documents), "
        "sig AS (SELECT doc_id, n_chars, "
        "CAST(length(s) - length(regexp_replace(s, "
        f"'{_CODE_SYM_RE}', '', 'g')) AS BIGINT) AS sym_cnt, "
        f"CAST(len(regexp_extract_all(s, '{_CODE_KW_RE}')) AS BIGINT) "
        "AS kw_cnt FROM m) "
        "SELECT doc_id, n_chars, sym_cnt, kw_cnt, "
        "CAST(CASE WHEN n_chars = 0 THEN 0 "
        "ELSE floor((sym_cnt * 50 + kw_cnt * 200) * 100.0 / n_chars) END "
        "AS BIGINT) AS code_score_bp, "
        "(CASE WHEN n_chars = 0 THEN 0 "
        "ELSE floor((sym_cnt * 50 + kw_cnt * 200) * 100.0 / n_chars) END "
        ">= 100) AS is_code "
        "FROM sig"
    ),
    doc=(
        "CODE-vs-PROSE detection — the classifier every pretraining "
        "mix needs to route code into its own pipeline (different "
        "dedup, different quality rules): symbol density "
        "(braces/semicolons/operators via the length-diff counting "
        "trick — no per-char array) and programming-keyword hits "
        "combine into an integer basis-point score with a fixed "
        "threshold. Pure map-side projection, codegen'd, zero "
        "shuffle at any scale; the score is integer arithmetic "
        "end-to-end so the gate is cross-engine exact."
    ),
)
def txt_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    s = F.lower(F.trim(F.col("text")))
    m = d.select(
        "doc_id",
        s.alias("s"),
        F.length(F.trim(F.col("text"))).cast("bigint").alias("n_chars"),
    )
    sig = m.select(
        "doc_id",
        "n_chars",
        (F.length("s") - F.length(F.regexp_replace("s", _CODE_SYM_RE, "")))
        .cast("bigint")
        .alias("sym_cnt"),
        F.size(F.regexp_extract_all("s", F.lit(_CODE_KW_RE), 0))
        .cast("bigint")
        .alias("kw_cnt"),
    )
    score = F.when(F.col("n_chars") == 0, F.lit(0)).otherwise(
        F.floor(
            (F.col("sym_cnt") * 50 + F.col("kw_cnt") * 200)
            * F.lit(100.0)
            / F.col("n_chars")
        )
    )
    return sig.select(
        "doc_id",
        "n_chars",
        "sym_cnt",
        "kw_cnt",
        score.cast("bigint").alias("code_score_bp"),
        (score >= 100).alias("is_code"),
    )


# ---------------------------------------------------------------------------
# evt_cohort_retention

_COHORT_MAX_OFFSET = 7


@register(
    "evt_cohort_retention",
    oracle=(
        "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
        "FROM events), "
        "coh AS (SELECT user_id, min(day) AS cohort_day FROM ud "
        "GROUP BY user_id), "
        "sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort "
        "FROM coh GROUP BY cohort_day), "
        "act AS (SELECT c.cohort_day, "
        "CAST(datediff('day', c.cohort_day, u.day) AS BIGINT) AS day_offset, "
        "CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_active "
        "FROM ud u JOIN coh c ON c.user_id = u.user_id "
        f"WHERE datediff('day', c.cohort_day, u.day) <= {_COHORT_MAX_OFFSET} "
        "GROUP BY c.cohort_day, day_offset) "
        "SELECT a.cohort_day, a.day_offset, a.n_active, s.n_cohort, "
        "CAST(floor(a.n_active * 10000.0 / s.n_cohort) AS BIGINT) "
        "AS retention_bp "
        "FROM act a JOIN sz s ON s.cohort_day = a.cohort_day"
    ),
    doc=(
        "COHORT RETENTION — the canonical product-analytics matrix: "
        "users grouped by first-active day (their cohort), and for "
        "each day offset 0..7 the fraction of the cohort active "
        "again. The whole analysis is distinct-day reduction (one "
        "shuffle), a per-user min (same shuffle key), and a "
        "(cohort, offset) count — activity never self-joins at the "
        "event level, only at the per-user-day level, which is the "
        "scale-safe formulation (user-days ≪ events). Retention in "
        "integer basis points — cross-engine exact."
    ),
)
def evt_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    coh = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sz = coh.groupBy("cohort_day").agg(
        F.count("*").cast("bigint").alias("n_cohort")
    )
    act = (
        ud.join(coh, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
            "user_id",
        )
        .filter(F.col("day_offset") <= _COHORT_MAX_OFFSET)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )
    return act.join(sz, "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "n_cohort",
        F.floor(F.col("n_active") * F.lit(10000.0) / F.col("n_cohort"))
        .cast("bigint")
        .alias("retention_bp"),
    )


# ---------------------------------------------------------------------------
# etl_cdc_compact

_CDC_OP_SQL = (
    "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' "
    "ELSE 'U' END"
)


@register(
    "etl_cdc_compact",
    oracle=(
        f"WITH log AS (SELECT user_id, ts, event_id, value, "
        f"{_CDC_OP_SQL} AS op FROM events), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY ts DESC, event_id DESC) AS rn, "
        "COUNT(*) OVER (PARTITION BY user_id) AS n_ops FROM log) "
        "SELECT user_id, op AS last_op, CAST(ts AS TIMESTAMP) AS last_ts, "
        "value AS last_value, CAST(n_ops AS BIGINT) AS n_ops "
        "FROM r WHERE rn = 1 AND op <> 'D'"
    ),
    doc=(
        "CDC LOG COMPACTION — the change-data-capture maintenance "
        "step every lakehouse table needs: an ordered op log "
        "(insert/update/delete, here derived from the event stream; "
        "'error' plays the delete tombstone) compacts to latest-"
        "state-per-key with tombstoned keys dropped. Last-writer-"
        "wins is pinned by the deterministic (ts, event_id) order. "
        "ONE shuffle on the key; the row_number window and the "
        "per-key op count share its clustering. At 100 TB this is "
        "exactly the periodic compaction job of a CDC-fed table "
        "(and composes with snk_write_audit_publish for the "
        "publish side)."
    ),
)
def etl_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    log = e.select("user_id", "ts", "event_id", "value", op.alias("op"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    r = log.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_ops", F.count("*").over(wc)
    )
    return r.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
        F.col("n_ops").cast("bigint").alias("n_ops"),
    )


# ---------------------------------------------------------------------------
# txt_readability


@register(
    "txt_readability",
    oracle=(
        "WITH m AS (SELECT doc_id, lower(trim(text)) AS s FROM documents), "
        "sig AS (SELECT doc_id, "
        "CAST(len(list_filter(string_split_regex(s, '\\s+'), "
        "x -> x <> '')) AS BIGINT) AS n_words, "
        "CAST(greatest(1, len(regexp_extract_all(s, '[.!?]+'))) AS BIGINT) "
        "AS n_sentences, "
        "CAST(len(regexp_extract_all(s, '[aeiouy]+')) AS BIGINT) "
        "AS n_syllables FROM m) "
        "SELECT doc_id, n_words, n_sentences, n_syllables, "
        "CAST(floor(CASE WHEN n_words = 0 THEN 0.0 "
        "ELSE 0.39 * (CAST(n_words AS DOUBLE) / n_sentences) "
        "+ 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59 END "
        "* 100.0) AS BIGINT) AS fk_grade_x100 "
        "FROM sig"
    ),
    doc=(
        "READABILITY SCORING (Flesch-Kincaid grade) — a standard "
        "quality signal next to txt_quality_score's structural "
        "ratios: words, sentence runs ([.!?]+ groups, floored at 1), "
        "and vowel-group syllable approximation feed the classic "
        "0.39·(W/S) + 11.8·(Sy/W) − 15.59 formula. All counts are "
        "integers from single regex passes (length-diff/extract-all "
        "— no per-word loop); the grade is one double expression "
        "with an identical tree both engines, emitted as floor'd "
        "×100 fixed point (a 2dp ROUND here sat exactly on a .5 "
        "boundary and split the engines — the d7ae455 rule). Pure "
        "map stage, zero shuffle at any scale."
    ),
)
def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    s = F.lower(F.trim(F.col("text")))
    m = d.select("doc_id", s.alias("s"))
    sig = m.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.col("s"), r"\s+"), lambda x: x != F.lit("")
            )
        )
        .cast("bigint")
        .alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all("s", F.lit(r"[.!?]+"), 0)),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(F.regexp_extract_all("s", F.lit(r"[aeiouy]+"), 0))
        .cast("bigint")
        .alias("n_syllables"),
    )
    grade = F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
        F.lit(0.39) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        + F.lit(11.8) * (F.col("n_syllables").cast("double") / F.col("n_words"))
        - F.lit(15.59)
    )
    return sig.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.floor(grade * F.lit(100.0)).cast("bigint").alias("fk_grade_x100"),
    )


# ---------------------------------------------------------------------------
# evt_anomaly_zscore


@register(
    "evt_anomaly_zscore",
    oracle=(
        f"WITH b AS ({HOURLY_COUNTS_SQL}), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nb, "
        "CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n * n) AS BIGINT) AS s2 "
        "FROM b GROUP BY event_type), "
        "z AS (SELECT b.event_type, b.bucket_ts AS bucket, "
        "b.n, "
        "(CAST(b.n AS DOUBLE) - CAST(m.s1 AS DOUBLE) / CAST(m.nb AS DOUBLE)) "
        "/ sqrt((CAST(m.nb AS DOUBLE) * CAST(m.s2 AS DOUBLE) "
        "- CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE)) "
        "/ (CAST(m.nb AS DOUBLE) * (CAST(m.nb AS DOUBLE) - 1))) AS zval "
        "FROM b JOIN m ON m.event_type = b.event_type WHERE m.nb > 1 "
        # zero-variance series have no defined z-score (r17: Spark's
        # ANSI double /0 aborts where DuckDB yields NaN, and NaN
        # passes the |z|>=2 filter in BOTH engines' NaN ordering)
        "AND CAST(m.nb AS DOUBLE) * CAST(m.s2 AS DOUBLE) "
        "- CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) > 0) "
        "SELECT event_type, bucket, n, "
        "CAST(round(CAST(CAST(zval AS VARCHAR) "
        "AS DECIMAL(38,18)), 4) AS DOUBLE) AS z "
        "FROM z WHERE zval >= 2.0 OR zval <= -2.0"
    ),
    doc=(
        "ANOMALY DETECTION by z-score — the ops-monitoring primitive: "
        "hourly event counts per type, each bucket scored against its "
        "type's mean/stddev, |z| ≥ 2 flagged. The moments are exact "
        "BIGINT sums (counts are integers — no raw-double summation); "
        "the z expression is one identical double tree both engines "
        "(sqrt is IEEE correctly-rounded, so cross-engine exact). "
        "Two bounded-cardinality shuffles: (type, bucket) counts, "
        "then per-type moments (constant state) broadcast back onto "
        "the bucket table."
    ),
)
def evt_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = hourly_counts(t(spark, sf_dir, "events"))
    m = b.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    j = b.join(F.broadcast(m), "event_type").filter(F.col("nb") > 1)
    mean = F.col("s1").cast("double") / F.col("nb").cast("double")
    # Products in DOUBLE, not int64: nb*s2 and s1*s1 overflow BIGINT
    # once a type holds ~3e9 events (round-15 review) — the sums stay
    # exact BIGINT (order-independent), only the closed form is IEEE.
    nb_d = F.col("nb").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    var = (nb_d * s2_d - s1_d * s1_d) / (nb_d * (nb_d - F.lit(1.0)))
    # zero-variance series have no defined z-score — excluded on both
    # engines (r17; the conditional keeps ANSI from evaluating /0)
    zval = F.when(
        nb_d * s2_d - s1_d * s1_d > 0,
        (F.col("n").cast("double") - mean) / F.sqrt(var),
    )
    return (
        j.select(
            "event_type",
            F.col("bucket_ts").alias("bucket"),
            "n",
            zval.alias("zval"),
        )
        .filter((F.col("zval") >= 2.0) | (F.col("zval") <= -2.0))
        .select("event_type", "bucket", "n", F.round("zval", 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# src_parquet_merge_schema


@register(
    "src_parquet_merge_schema",
    oracle=(
        "WITH old_batch AS (SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderdate < DATE '1995-01-01'), "
        "new_batch AS (SELECT o_orderkey, o_totalprice, o_orderpriority "
        "FROM orders WHERE o_orderdate >= DATE '1995-01-01'), "
        "merged AS (SELECT o_orderkey, o_totalprice, "
        "CAST(NULL AS VARCHAR) AS o_orderpriority FROM old_batch "
        "UNION ALL SELECT * FROM new_batch) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_total, "
        "CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority, "
        "CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) "
        "AS n_without_priority, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum "
        "FROM merged"
    ),
    doc=(
        "SCHEMA-EVOLUTION READ (mergeSchema) — the source-side "
        "contract every long-lived dataset needs: an old batch "
        "written without a column and a new batch written with it "
        "land in the same parquet directory; the read reconciles "
        "both footers into the union schema, null-filling the old "
        "files. The returned summary (total rows, per-column null "
        "split, key checksum) certifies the merged read end-to-end "
        "against a UNION-semantics oracle. At scale, mergeSchema's "
        "cost is footer reconciliation (schema metadata, not data) — "
        "the documented production alternative is a table format "
        "carrying the schema in a manifest."
    ),
)
def src_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.io.scratch import scratch_dir

    path = scratch_dir("orders_schema_evolve")
    o = t(spark, sf_dir, "orders")
    old_b = o.filter(F.col("o_orderdate") < "1995-01-01").select(
        "o_orderkey", "o_totalprice"
    )
    new_b = o.filter(F.col("o_orderdate") >= "1995-01-01").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old_b.write.mode("overwrite").parquet(path)
    new_b.write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.count("o_orderpriority").cast("bigint").alias("n_with_priority"),
        (F.count("*") - F.count("o_orderpriority"))
        .cast("bigint")
        .alias("n_without_priority"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# snk_partition_overwrite_dynamic


@register(
    "snk_partition_overwrite_dynamic",
    oracle=(
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, "
        "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 "
        "ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) "
        "AS price_cents "
        "FROM orders GROUP BY o_orderstatus"
    ),
    doc=(
        "DYNAMIC PARTITION OVERWRITE — the INSERT OVERWRITE "
        "PARTITION semantics of warehouse maintenance: the table is "
        "written partitioned by status, then ONE partition ('F') is "
        "rewritten (prices zeroed, standing in for a restatement) "
        "with partitionOverwriteMode=dynamic, which replaces only "
        "the partitions present in the incoming write and leaves "
        "every other partition's files untouched. The readback "
        "summary proves both halves: 'F' rows show the restated "
        "values, other statuses their originals. At 100 TB this is "
        "the daily-restatement pattern — rewrite cost is "
        "proportional to the restated partition, not the table. "
        "Money summed in exact integer cents per the repo rule."
    ),
)
def snk_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.io.scratch import scratch_dir

    path = scratch_dir("orders_dyn_overwrite")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    restated = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.lit(0.0)
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("price_cents"),
    )


# ---------------------------------------------------------------------------
# win_gaps_islands


@register(
    "win_gaps_islands",
    oracle=(
        "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
        "FROM events), "
        "r AS (SELECT user_id, day, "
        "day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) "
        "AS INTEGER) AS grp FROM ud), "
        "streaks AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len, "
        "min(day) AS start_day FROM r GROUP BY user_id, grp), "
        "best AS (SELECT user_id, len, start_day, "
        "row_number() OVER (PARTITION BY user_id "
        "ORDER BY len DESC, start_day) AS rk, "
        "CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_streaks "
        "FROM streaks) "
        "SELECT user_id, len AS longest_streak, start_day AS streak_start, "
        "n_streaks FROM best WHERE rk = 1"
    ),
    doc=(
        "GAPS-AND-ISLANDS — longest consecutive-day activity streak "
        "per user, the canonical run-length analysis (engagement "
        "streaks, sensor uptime, SLA windows): day minus dense rank "
        "is constant within a consecutive run, so runs become plain "
        "group keys — no self-join, no iteration. Three aggregations "
        "all keyed by user_id share one clustering; per-user state "
        "is bounded by distinct active days. Deterministic "
        "(len DESC, start) tie-break picks the earliest of equal "
        "streaks."
    ),
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    # day = to_date(nullable ts) — asc_nulls_last (r17 sweep)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("day"))
    r = ud.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = r.groupBy("user_id", "grp").agg(
        F.count("*").cast("bigint").alias("len"),
        F.min("day").alias("start_day"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.asc_nulls_last("start_day")
    )
    wc = Window.partitionBy("user_id")
    best = streaks.withColumn("rk", F.row_number().over(wb)).withColumn(
        "n_streaks", F.count("*").over(wc).cast("bigint")
    )
    return best.filter(F.col("rk") == 1).select(
        "user_id",
        F.col("len").alias("longest_streak"),
        F.col("start_day").alias("streak_start"),
        "n_streaks",
    )


# ---------------------------------------------------------------------------
# mm_image_dhash_dedup


def _dhash_oracle() -> str:
    # Closed-form replica of dhash_bmp over the synthetic gradient:
    # pixel(x, y) = (seed*31 + x*97 + y*13) % 251, seed = doc_id % 16,
    # w = h = seed % 4 + 8; bit (j*8+i) set when the 9x8-grid sample
    # at column i exceeds column i+1.
    def px(sx: str, sy: str) -> str:
        return f"((seed * 31 + ({sx}) * 97 + ({sy}) * 13) % 251)"

    terms = []
    for j in range(8):
        sy = f"(({j} * h) // 8)"
        for i in range(8):
            a = px(f"(({i} * w) // 9)", sy)
            b = px(f"((({i} + 1) * w) // 9)", sy)
            # bit 63 is the sign bit of the BIGINT two's-complement form
            bit = 1 << (j * 8 + i)
            val = bit - (1 << 64) if bit >= (1 << 63) else bit
            terms.append(
                f"(CASE WHEN {a} > {b} THEN CAST({val} AS BIGINT) "
                "ELSE 0 END)"
            )
    # Plain join — px emits a literal '% 251' now; the old '%%' +
    # printf-collapse ('expr % ()') raised ValueError at import time
    # the moment any term contained an unescaped '%' (round-15 review).
    expr = " + ".join(terms)
    return (
        "WITH img AS (SELECT doc_id, doc_id % 16 AS seed, "
        "(doc_id % 16) % 4 + 8 AS w, (doc_id % 16) % 4 + 8 AS h "
        "FROM documents), "
        f"hs AS (SELECT doc_id, CAST({expr} AS BIGINT) AS dhash FROM img) "
        "SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_images, "
        "CAST(min(doc_id) AS BIGINT) AS canonical_doc "
        "FROM hs GROUP BY dhash"
    )


@register(
    "mm_image_dhash_dedup",
    oracle=_dhash_oracle(),
    doc=(
        "PERCEPTUAL-HASH IMAGE DEDUP — the multimodal sibling of the "
        "text near-dup family: every document synthesizes a REAL "
        "24-bpp BMP (deterministic gradient pattern, pure-stdlib "
        "encoder), the pixels are struct-DECODED back and dHashed "
        "(9×8 grid sample, adjacent-column comparison → 64-bit "
        "hash), and images group by hash — visually identical frames "
        "collapse to one canonical doc. The oracle re-derives the "
        "hash closed-form from the gradient (integer arithmetic "
        "only), so a hash match proves the encode→decode→dhash "
        "round-trip byte-exactly, not just the grouping. Scale "
        "shape: synthesis+decode+hash run in two narrow Arrow "
        "(mapInPandas) stages — the documented slow-path budget, "
        "~O(pixels) per image with zero shuffle — and the only "
        "shuffle is the hash groupBy, whose cells are near-dup "
        "cluster sized. Hamming-near (not just equal) grouping "
        "composes with dedup_simhash's pigeonhole chunk buckets "
        "unchanged, since the hash is the same 64-bit shape."
    ),
)
def mm_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode,
        dhash_bmp,
        gradient_bmp,
        synthesize,
    )

    media = synthesize(t(spark, sf_dir, "documents"), "image/bmp", gradient_bmp)
    hashed = decode(media, lambda p: {"dhash": dhash_bmp(p)}, "doc_id long, dhash long")
    return hashed.groupBy("dhash").agg(
        F.count("*").cast("bigint").alias("n_images"),
        F.min("doc_id").cast("bigint").alias("canonical_doc"),
    )


# ---------------------------------------------------------------------------
# agg_bitmap_distinct


@register(
    "agg_bitmap_distinct",
    oracle=(
        "WITH w AS (SELECT event_type, user_id // 32 AS bucket, "
        "bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS word "
        "FROM events GROUP BY event_type, bucket), "
        "c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets, "
        "CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct "
        "FROM w GROUP BY event_type), "
        "tru AS (SELECT event_type, "
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct "
        "FROM events GROUP BY event_type) "
        "SELECT c.event_type, c.n_buckets, c.n_distinct, tru.true_distinct "
        "FROM c JOIN tru ON tru.event_type = c.event_type"
    ),
    doc=(
        "BITMAP EXACT-DISTINCT — the roaring-bitmap counting pattern "
        "of OLAP warehouses (ClickHouse/Doris bitmap columns), "
        "re-expressed: user ids pack into 32-bit words "
        "(bucket = id/32, bit = id%32 — 32 keeps the shift inside "
        "signed-BIGINT range on both engines) with BIT_OR merge, and "
        "the distinct count is the popcount sum. Unlike "
        "COUNT(DISTINCT) — whose state is the value set itself — "
        "bitmap state is bounded by the id range/64 and merges "
        "associatively, which is why warehouses precompute bitmap "
        "columns per segment and answer distinct-count and set "
        "algebra (AND/OR across segments) without touching rows. "
        "Both levels are map-side-combinable shuffles; the exact "
        "COUNT DISTINCT is emitted alongside, so the oracle pins "
        "bitmap == truth. At 100 TB: the word table IS the "
        "materialized bitmap index; incremental batches BIT_OR into "
        "it."
    ),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # Integer division, mirroring the oracle's user_id // 32: the old
    # double divide + truncate rounds 2^55-scale ids into the WRONG
    # bucket (round-15 review; amplified/stress id spaces reach it).
    w = e.groupBy(
        "event_type", F.expr("user_id div 32").alias("bucket")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("word")
    )
    c = w.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(F.bit_count("word")).cast("bigint").alias("n_distinct"),
    )
    tru = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("true_distinct")
    )
    return c.join(tru, "event_type")


# ---------------------------------------------------------------------------
# win_percent_change


@register(
    "win_percent_change",
    oracle=(
        "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, "
        "CAST(COUNT(*) AS BIGINT) AS n FROM events "
        "GROUP BY event_type, day), "
        "l AS (SELECT event_type, day, n, "
        "lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n "
        "FROM d) "
        "SELECT event_type, day, n, prev_n, "
        "CASE WHEN prev_n IS NULL OR prev_n = 0 THEN NULL "
        "ELSE CAST(floor((n - prev_n) * 10000.0 / prev_n) AS BIGINT) END "
        "AS pct_change_bp "
        "FROM l"
    ),
    doc=(
        "PERIOD-OVER-PERIOD CHANGE — the day-over-day delta of every "
        "metrics dashboard: daily counts per series, LAG for the "
        "previous period, change in floor'd integer basis points "
        "(cross-engine exact; NULL for the first period and "
        "zero-base periods). Bounded-cardinality count shuffle, then "
        "the lag window shares the series clustering — two "
        "map-side-friendly exchanges regardless of event volume."
    ),
)
def win_percent_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    # day = to_date(nullable ts) — asc_nulls_last so lag() pairs the
    # same neighbors as DuckDB's NULLS LAST (r17 sweep)
    w = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("day"))
    l = d.withColumn("prev_n", F.lag("n").over(w))
    return l.select(
        "event_type",
        "day",
        "n",
        "prev_n",
        F.when(
            F.col("prev_n").isNull() | (F.col("prev_n") == 0), F.lit(None)
        )
        .otherwise(
            F.floor(
                (F.col("n") - F.col("prev_n")) * F.lit(10000.0) / F.col("prev_n")
            )
        )
        .cast("bigint")
        .alias("pct_change_bp"),
    )


# ---------------------------------------------------------------------------
# pipe_modality_split — modality routing + per-branch dedup policy


def _modality_split_oracle() -> str:
    from duckdb_data_eng_proj_spark.queries.training import _TOKS_CTE

    code_score = (
        "CASE WHEN length(trim(d.text)) = 0 THEN 0 ELSE "
        "floor(((length(lower(trim(d.text))) - length(regexp_replace("
        f"lower(trim(d.text)), '{_CODE_SYM_RE}', '', 'g'))) * 50 "
        f"+ len(regexp_extract_all(lower(trim(d.text)), '{_CODE_KW_RE}')) "
        "* 200) * 100.0 / length(trim(d.text))) END"
    )
    return (
        f"WITH {_TOKS_CTE}, "
        f"m AS (SELECT d.doc_id, ({code_score}) >= 100 AS is_code, "
        "md5(lower(trim(d.text))) AS exact_key, "
        "CASE WHEN len(t.tk) >= 5 THEN list_aggregate(list_transform("
        "list_transform(range(len(t.tk) - 4), "
        "i -> array_to_string(t.tk[i+1:i+5], ' ')), s -> md5(s)), 'min') "
        "WHEN len(t.tk) > 0 THEN md5(array_to_string(t.tk, ' ')) "
        "ELSE NULL END AS fuzzy_key "
        "FROM documents d JOIN toks t USING (doc_id)), "
        "keyed AS (SELECT doc_id, "
        "CASE WHEN is_code THEN 'code' ELSE 'prose' END AS modality, "
        "CASE WHEN is_code THEN exact_key ELSE fuzzy_key END AS dedup_key "
        "FROM m) "
        "SELECT doc_id, modality, dedup_key, "
        "(doc_id = min(doc_id) OVER (PARTITION BY modality, dedup_key)) "
        "AS keep "
        "FROM keyed"
    )


@register(
    "pipe_modality_split",
    oracle=_modality_split_oracle(),
    doc=(
        "MODALITY-ROUTED DEDUP POLICY — the branching step of a mixed "
        "corpus pipeline: every document routes by the verified "
        "txt_code_detect gate, and each branch applies the dedup "
        "policy appropriate to its modality — code dedups on the "
        "VERBATIM text hash (code near-dup across formatting variants "
        "is usually wrong to collapse), prose on the verified 5-gram "
        "min-fingerprint (whitespace/boilerplate-tolerant). The "
        "min-doc_id survivor rule runs per (modality, key), so the "
        "branches never interfere. Composes three verified "
        "primitives (code gate, fingerprint, survivor window) in ONE "
        "lazy plan — one shuffle keyed by (modality, dedup_key) "
        "after pure map stages; at 100 TB the prose branch swaps in "
        "the LSH near-dup pipeline exactly as pipe_corpus_clean "
        "demonstrates."
    ),
)
def pipe_modality_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE documents scan: is_code, exact_key, and fuzzy_key are all
    # per-row map-side expressions, so computing them in a single
    # projection keeps the op's "one shuffle keyed by (modality,
    # dedup_key)" contract at ANY scale. The earlier form invoked
    # txt_code_detect and txt_fingerprint as sub-plans and joined the
    # three scans on doc_id — fine while documents broadcasts, but
    # two corpus-sized sort-merge joins beyond 64 MB (round-15
    # review). Semantic alignment with the two source ops is pinned
    # by test_modality_split_composes_verified_ops.
    d = t(spark, sf_dir, "documents")
    s = F.lower(F.trim(F.col("text")))
    sig = d.select(
        "doc_id",
        s.alias("s"),
        F.length(F.trim(F.col("text"))).cast("bigint").alias("n_chars"),
        tokens(F.col("text")).alias("tk"),
    ).select(
        "doc_id",
        "tk",
        F.md5("s").alias("exact_key"),
        (F.length("s") - F.length(F.regexp_replace("s", _CODE_SYM_RE, "")))
        .cast("bigint")
        .alias("sym_cnt"),
        F.size(F.regexp_extract_all("s", F.lit(_CODE_KW_RE), 0))
        .cast("bigint")
        .alias("kw_cnt"),
        F.col("n_chars"),
    )
    score = F.when(F.col("n_chars") == 0, F.lit(0)).otherwise(
        F.floor(
            (F.col("sym_cnt") * 50 + F.col("kw_cnt") * 200)
            * F.lit(100.0)
            / F.col("n_chars")
        )
    )
    has5 = F.size(F.col("tk")) >= 5
    # zero-token docs key as NULL on BOTH engines (r17 blank-text
    # vintage — the txt_fingerprint fix, same split: DuckDB
    # array_to_string([]) is NULL, Spark array_join([]) is '')
    fuzzy_key = (
        F.when(
            has5,
            F.array_min(
                F.transform(word_ngrams(F.col("tk"), 5), lambda g: F.md5(g))
            ),
        )
        .when(F.size(F.col("tk")) > 0, F.md5(F.array_join(F.col("tk"), " ")))
        .otherwise(F.lit(None).cast("string"))
    )
    keyed = sig.select(
        "doc_id",
        F.when(score >= 100, "code").otherwise("prose").alias("modality"),
        F.when(score >= 100, F.col("exact_key"))
        .otherwise(fuzzy_key)
        .alias("dedup_key"),
    )
    w = Window.partitionBy("modality", "dedup_key")
    return keyed.select(
        "doc_id",
        "modality",
        "dedup_key",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# vec_binary_quantize

_BQ_K = 5  # neighbors per query in the hamming-then-exact rerank demo


def _bq_sig_sql(alias: str) -> str:
    # 64 sign bits -> one BIGINT, bit d = 1 when dim d > 0; bit 63 in
    # two's-complement form to stay inside signed BIGINT.
    terms = []
    for d in range(64):
        bit = 1 << d
        val = bit - (1 << 64) if bit >= (1 << 63) else bit
        terms.append(
            f"(CASE WHEN {alias}.embedding[{d + 1}] > 0 "
            f"THEN CAST({val} AS BIGINT) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "vec_binary_quantize",
    oracle=(
        # fixed-dim contract (r17): element_at past a short vector ANSI-
        # aborts the Spark sign builder where the oracle read NULL bits
        f"WITH sig AS (SELECT vec_id, embedding, {_bq_sig_sql('embeddings')} "
        "AS bsig FROM embeddings WHERE len(embedding) = 64), "
        f"q AS (SELECT vec_id AS qid, embedding AS qe, bsig AS qsig "
        f"FROM sig WHERE vec_id % 100 = 0), "
        "ham AS (SELECT q.qid, s.vec_id, "
        "CAST(bit_count(xor(q.qsig, s.bsig)) AS BIGINT) AS hamming "
        "FROM q JOIN sig s ON s.vec_id <> q.qid), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY qid "
        "ORDER BY hamming, vec_id) AS rank FROM ham) "
        f"SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, hamming "
        f"FROM rk WHERE rank <= {_BQ_K}"
    ),
    doc=(
        "BINARY (1-bit) VECTOR QUANTIZATION — the third compression "
        "tier of the embedding-index family (int8 = 4×, PQ = 64×, "
        "sign bits = 512×): each 64-dim vector collapses to ONE "
        "BIGINT of sign bits, and candidate retrieval is hamming "
        "distance = POPCOUNT(XOR) — a single ALU op per comparison, "
        "which is why binary codes are the first-stage filter of "
        "every modern billion-vector index (the exact/int8 rerank "
        "stage then runs on the survivors only; sim_knn_bucket_join "
        "demonstrates that rerank shape). Pure integer end-to-end — "
        "cross-engine exact with no fixed-point machinery. Scale "
        "shape: the code table is 8 bytes/vector; the query batch "
        "broadcasts and the scan is embarrassingly parallel with "
        "zero shuffle before the top-k window."
    ),
)
def vec_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(t(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") == 64  # fixed-dim contract (r17)
    )
    bit_terms = None
    for d in range(64):
        bit = 1 << d
        val = bit - (1 << 64) if bit >= (1 << 63) else bit
        term = F.when(
            F.element_at("embedding", d + 1) > 0, F.lit(val).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bit_terms = term if bit_terms is None else bit_terms + term
    sig = e.select("vec_id", bit_terms.alias("bsig")).localCheckpoint(
        eager=False
    )
    q = sig.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("bsig").alias("qsig")
    )
    ham = (
        sig.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.bit_count(F.expr("qsig ^ bsig")).cast("bigint").alias("hamming"),
        )
    )
    w = Window.partitionBy("qid").orderBy("hamming", "vec_id")
    return (
        ham.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BQ_K)
        .select("qid", F.col("rank").cast("bigint").alias("rank"), "vec_id", "hamming")
    )


# ---------------------------------------------------------------------------
# evt_attribution_last_touch


@register(
    "evt_attribution_last_touch",
    oracle=(
        "WITH conv AS (SELECT user_id, ts AS conv_ts, event_id AS conv_id "
        "FROM events WHERE event_type = 'purchase'), "
        "touch AS (SELECT user_id, ts, event_id, event_type FROM events "
        "WHERE event_type <> 'purchase'), "
        "cand AS (SELECT c.user_id, c.conv_id, c.conv_ts, "
        "t.event_id AS touch_id, t.event_type AS touch_type, "
        "row_number() OVER (PARTITION BY c.conv_id "
        "ORDER BY t.ts DESC, t.event_id DESC) AS rk "
        "FROM conv c JOIN touch t ON t.user_id = c.user_id "
        "AND t.ts <= c.conv_ts "
        "AND t.ts >= c.conv_ts - INTERVAL 1 DAY) "
        "SELECT conv_id, user_id, CAST(conv_ts AS TIMESTAMP) AS conv_ts, "
        "touch_id, touch_type FROM cand WHERE rk = 1"
    ),
    doc=(
        "LAST-TOUCH ATTRIBUTION — the marketing-analytics as-of join "
        "in its native habitat: each purchase attributes to the most "
        "recent non-purchase event by the same user within a 1-day "
        "lookback, deterministic (ts, event_id) recency order. "
        "Expressed as a user-keyed join + per-conversion rank-1 "
        "window — the same plan join_asof pins, but with the lookback "
        "band limiting the join fan-out (the unbounded as-of join's "
        "scale hazard). One shuffle on user_id; the window keys on "
        "conversions only."
    ),
)
def evt_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("conv_ts"),
        F.col("event_id").alias("conv_id"),
    )
    touch = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
    )
    cand = conv.join(touch, "user_id").filter(
        (F.col("t_ts") <= F.col("conv_ts"))
        & (F.col("t_ts") >= F.col("conv_ts") - F.expr("INTERVAL 1 DAY"))
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("t_ts").desc(), F.col("touch_id").desc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("conv_id", "user_id", "conv_ts", "touch_id", "touch_type")
    )


# ---------------------------------------------------------------------------
# graph_degree_distribution


@register(
    "graph_degree_distribution",
    oracle=(
        "WITH pe AS (SELECT e1.event_id AS u, e2.event_id AS v "
        "FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id "
        "AND e1.event_id < e2.event_id "
        "AND e2.ts BETWEEN e1.ts AND e1.ts + INTERVAL 5 MINUTE), "
        "deg AS (SELECT u AS node, COUNT(*) AS d FROM ("
        "SELECT u, v FROM pe UNION ALL SELECT v, u FROM pe) GROUP BY u), "
        "b AS (SELECT CAST(floor(log2(CAST(d AS DOUBLE))) AS BIGINT) "
        "AS degree_bin, d FROM deg) "
        "SELECT degree_bin, CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        "CAST(min(d) AS BIGINT) AS min_deg, CAST(max(d) AS BIGINT) AS max_deg "
        "FROM b GROUP BY degree_bin"
    ),
    doc=(
        "DEGREE DISTRIBUTION (log₂-binned) — the first diagnostic of "
        "any graph workload, here over the temporal co-occurrence "
        "graph (events of one user within a 5-minute band): heavy "
        "bins at high degree mean skewed join keys downstream — "
        "exactly what salting/AQE skew handling must absorb, so this "
        "operator IS the skew audit a 100 TB graph job runs first. "
        "log2 of an integer count floor'd to a bin index is "
        "cross-engine exact for the attainable degrees (powers-of-2 "
        "boundaries are exactly representable). The band join bounds "
        "fan-out; degree counting is one shuffle, the bin rollup is "
        "bounded-cardinality."
    ),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    e1 = e.alias("a")
    e2 = e.alias("b")
    pe = e1.join(
        e2,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTE")),
    ).select(F.col("a.event_id").alias("u"), F.col("b.event_id").alias("v"))
    deg = (
        pe.select(F.col("u").alias("node"))
        .unionAll(pe.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    b = deg.select(
        F.floor(F.log2(F.col("d").cast("double"))).cast("bigint").alias(
            "degree_bin"
        ),
        "d",
    )
    return b.groupBy("degree_bin").agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.min("d").cast("bigint").alias("min_deg"),
        F.max("d").cast("bigint").alias("max_deg"),
    )


# ---------------------------------------------------------------------------
# ext_benford_audit

# Expected Benford first-digit frequencies, log10(1+1/d), as exact
# basis-point literals — no transcendental at query time.
_BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669, 7: 580, 8: 512, 9: 458}


@register(
    "ext_benford_audit",
    oracle=(
        "WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) "
        "AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders "
        "WHERE o_totalprice >= 1), "
        "c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d "
        "GROUP BY digit), "
        "tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c) "
        "SELECT c.digit, c.n, "
        "CAST(floor(c.n * 10000.0 / tot.total) AS BIGINT) AS observed_bp, "
        "CAST(CASE c.digit "
        + " ".join(f"WHEN {k} THEN {v}" for k, v in sorted(_BENFORD_BP.items()))
        + " END AS BIGINT) AS expected_bp "
        "FROM c, tot"
    ),
    doc=(
        "BENFORD'S-LAW AUDIT — the forensic data-quality check on "
        "monetary columns: observed first-digit frequencies of "
        "o_totalprice vs the Benford expectation (log10(1+1/d), "
        "precomputed as exact basis-point literals so no "
        "transcendental runs at query time). Fabricated or "
        "synthetically-uniform amounts diverge loudly — on this "
        "generator's uniform-ish prices the divergence itself is the "
        "expected, deterministic output. Map-side digit extraction, "
        "one 9-cell aggregate, a 1-row total broadcast."
    ),
)
def ext_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    tot = c.agg(F.sum("n").cast("bigint").alias("total"))
    expected = None
    for k, v in sorted(_BENFORD_BP.items()):
        expected = (
            F.when(F.col("digit") == k, v)
            if expected is None
            else expected.when(F.col("digit") == k, v)
        )
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.floor(F.col("n") * F.lit(10000.0) / F.col("total"))
        .cast("bigint")
        .alias("observed_bp"),
        expected.cast("bigint").alias("expected_bp"),
    )


# ---------------------------------------------------------------------------
# src_file_provenance


@register(
    "src_file_provenance",
    oracle=(
        # The driver registers each table as a view over its single
        # canonically-named parquet file, so the expected provenance is
        # the constant basename — the oracle pins that Spark's
        # input_file_name() extraction lands exactly there with the
        # right per-file totals.
        "SELECT 'lineitem.parquet' AS source_file, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(l_orderkey) AS BIGINT) AS key_sum FROM lineitem"
    ),
    doc=(
        "ROW-LEVEL FILE PROVENANCE — the lineage primitive of every "
        "debugging and backfill workflow: each row carries the file "
        "it was scanned from (input_file_name(), a metadata column "
        "materialized at scan time with zero I/O cost), rolled up to "
        "per-file row counts and key checksums. At 100 TB this is "
        "how a corrupted-file incident is scoped (which files, which "
        "rows) and how per-file audit totals reconcile a backfill. "
        "Basename-normalized so the hash is location-independent."
    ),
)
def src_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "source_file",
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1),
        )
        .groupBy("source_file")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("l_orderkey").cast("bigint").alias("key_sum"),
        )
    )


# ---------------------------------------------------------------------------
# agg_weighted_avg_exact


@register(
    "agg_weighted_avg_exact",
    oracle=(
        "WITH m AS (SELECT l_returnflag, "
        "SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38, 6)) "
        "* CAST(l_discount AS DECIMAL(18, 6))) AS swx, "
        "SUM(CAST(l_quantity AS BIGINT)) AS sw "
        "FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, CAST(sw AS BIGINT) AS total_qty, "
        "CASE WHEN sw > 0 "
        "THEN CAST(round(CAST(CAST(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) "
        "AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) END "
        "AS wavg_discount "
        "FROM m"
    ),
    doc=(
        "EXACT WEIGHTED AVERAGE — quantity-weighted mean discount per "
        "return flag: the numerator accumulates as DECIMAL (weight "
        "integer × decimal-cast value), the denominator as BIGINT, so "
        "partial-aggregation order cannot perturb either (the "
        "no-raw-double-SUM rule); one double division at the end with "
        "an identical expression tree both engines. Single map-side-"
        "combinable shuffle, constant per-group state — the pattern "
        "every revenue-weighted metric at 100 TB should follow."
    ),
)
def agg_weighted_avg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    w = F.col("l_quantity").cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.sum(
            w.cast("decimal(38,6)") * F.col("l_discount").cast("decimal(18,6)")
        ).alias("swx"),
        F.sum(w).alias("sw"),
    )
    return m.select(
        "l_returnflag",
        F.col("sw").cast("bigint").alias("total_qty"),
        # a zero total weight leaves the average undefined: NULL on
        # both engines (r17 ANSI /0 rule)
        F.when(
            F.col("sw") > 0,
            F.round(
                F.col("swx").cast("double") / F.col("sw").cast("double"), 6
            ),
        ).alias("wavg_discount"),
    )
