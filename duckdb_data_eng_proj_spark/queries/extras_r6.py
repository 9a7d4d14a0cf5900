"""Round-6 operators: pretokenization, web-corpus canonicalization,
importance sampling, time-series gap fill, vector range search, and
window distribution functions.

These fill the remaining standard stages of a web-scale training-data
pipeline plus two general analytics gaps:

- BPE-style pretokenization counts — the regex pre-split every
  subword tokenizer (GPT-2/tiktoken family) applies before merges;
- URL canonicalization + dedup — the first dedup stage of any web
  crawl (scheme/www/tracking-param/trailing-slash normalization);
- importance sampling — deterministic quality-weighted inclusion,
  the data-mixing primitive behind "sample high-quality sources at
  2x" recipes;
- time-series gap fill — bucket + generate missing buckets +
  forward fill, the resample/ffill of every metrics pipeline;
- cosine range search — the threshold form of ANN retrieval
  (sim_knn_bucket_join is the top-k form);
- percent_rank / cume_dist / ntile — the distribution window family.

Reference parity: the reference project (pipeline.py, queries.sql)
has none of these; they are north-star surface over the driver's
tables. All are oracle-checked (hash grade).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.sketches import md5_slot, md5_slot_sql
from duckdb_data_eng_proj_spark.operators.timeseries import (
    HOURLY_CENTS_SQL,
    dense_hours,
    dense_hours_sql,
    hourly_cents,
)
from duckdb_data_eng_proj_spark.operators.vectors import dot_sql, sorted_mean
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import _hp_sig_cte


# ---------------------------------------------------------------------------
# txt_bpe_pretokenize

# The GPT-2-family pretokenizer splits text into letter runs, digit
# runs, and punctuation runs BEFORE any BPE merge is applied; merge
# tables never cross these boundaries. Lookahead-free so the same
# pattern is valid in Java regex (Spark) and RE2 (DuckDB).
_PRETOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


@register(
    "txt_bpe_pretokenize",
    oracle=(
        "WITH pt AS (SELECT doc_id, "
        f"regexp_extract_all(lower(trim(text)), '{_PRETOK_RE}') AS p "
        "FROM documents) "
        "SELECT doc_id, CAST(len(p) AS BIGINT) AS n_pretok, "
        "CAST(len(list_filter(p, x -> regexp_matches(x, '^[a-z]'))) AS BIGINT) "
        "AS n_alpha, "
        "CAST(len(list_filter(p, x -> regexp_matches(x, '^[0-9]'))) AS BIGINT) "
        "AS n_num, "
        "CAST(len(p) "
        "- len(list_filter(p, x -> regexp_matches(x, '^[a-z]'))) "
        "- len(list_filter(p, x -> regexp_matches(x, '^[0-9]'))) AS BIGINT) "
        "AS n_other "
        "FROM pt"
    ),
    doc=(
        "BPE-STYLE PRETOKENIZATION counts — the regex pre-split "
        "(letter runs | digit runs | punctuation runs) every subword "
        "tokenizer applies before merges; its token count is the "
        "input length a BPE vocab actually sees, and the alpha/num/"
        "punct mix is a cheap quality signal (code vs prose vs "
        "boilerplate). Complements txt_token_count's whitespace "
        "tokenizer per the north star ('whitespace + a BPE-ish "
        "regex'). Pure narrow projection over regexp_extract_all — "
        "whole-stage codegen, zero shuffle at any scale."
    ),
)
def txt_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    p = F.regexp_extract_all(F.lower(F.trim(F.col("text"))), F.lit(_PRETOK_RE), 0)
    alpha = F.size(F.filter(p, lambda x: x.rlike("^[a-z]")))
    num = F.size(F.filter(p, lambda x: x.rlike("^[0-9]")))
    return d.select(
        "doc_id",
        F.size(p).cast("bigint").alias("n_pretok"),
        alpha.cast("bigint").alias("n_alpha"),
        num.cast("bigint").alias("n_num"),
        (F.size(p) - alpha - num).cast("bigint").alias("n_other"),
    )


# ---------------------------------------------------------------------------
# dedup_url_canonical

# documents.source is a bare feed name, so a deterministic URL is
# derived from (source, doc_id) first — scheme/www/tracking-query/
# trailing-slash variants of a much smaller canonical space — and the
# OPERATOR under test is the canonicalizer that collapses them.
_URL_SQL = (
    "'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END "
    "|| source || '.example.org/p/' || CAST(doc_id % 40 AS VARCHAR) "
    "|| CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END "
    "|| CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=' "
    "|| CAST(doc_id AS VARCHAR) "
    "|| CASE WHEN doc_id % 7 = 0 THEN '&page=' || CAST(doc_id % 2 AS VARCHAR) "
    "ELSE '' END "
    "WHEN doc_id % 7 = 0 THEN '?page=' || CAST(doc_id % 2 AS VARCHAR) "
    "ELSE '' END"
)


@register(
    "dedup_url_canonical",
    oracle=(
        f"WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents), "
        "parts AS (SELECT doc_id, "
        "regexp_replace(regexp_replace(regexp_replace(url, '\\?.*$', ''), "
        "'^https?://(www\\.)?', ''), '/$', '') AS hostpath, "
        "list_filter(string_split(regexp_extract(url, '\\?(.*)$', 1), '&'), "
        "x -> x <> '' AND NOT regexp_matches(x, '^(utm_|ref=)')) AS params "
        "FROM u), "
        "canon AS (SELECT doc_id, CASE WHEN len(params) > 0 "
        "THEN hostpath || '?' || array_to_string(params, '&') "
        "ELSE hostpath END AS canonical_url FROM parts) "
        "SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants, "
        "MIN(doc_id) AS keeper_doc_id "
        "FROM canon GROUP BY canonical_url"
    ),
    doc=(
        "URL CANONICALIZATION dedup — the first dedup stage of every "
        "web crawl: strip scheme and www, drop tracking query params "
        "(utm_*, ref) while KEEPING meaningful ones (page=), strip "
        "trailing slash, then collapse to one keeper per canonical "
        "URL (min doc_id — deterministic, same survivor rule as "
        "ext_dedup_exact). Pure string-expression canonicalizer + one "
        "groupBy shuffled on the canonical key; at 100 TB this is a "
        "map stage plus a single key-partitioned aggregate, exactly "
        "how CommonCrawl index dedup runs."
    ),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.org/p/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref="),
                F.col("doc_id").cast("string"),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(F.lit("&page="), (F.col("doc_id") % 2).cast("string")),
                ).otherwise(F.lit("")),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("?page="), (F.col("doc_id") % 2).cast("string")),
        )
        .otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    hostpath = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("url"), r"\?.*$", ""),
            r"^https?://(www\.)?",
            "",
        ),
        r"/$",
        "",
    )
    params = F.filter(
        F.split(F.regexp_extract(F.col("url"), r"\?(.*)$", 1), "&"),
        lambda x: (x != "") & ~x.rlike("^(utm_|ref=)"),
    )
    canonical = F.when(
        F.size(params) > 0,
        F.concat(hostpath, F.lit("?"), F.array_join(params, "&")),
    ).otherwise(hostpath)
    return (
        u.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# ext_importance_sample

_IS_SALT = "is-v1:"


@register(
    "ext_importance_sample",
    oracle=(
        "WITH mx AS (SELECT MAX(n_chars) AS mc FROM documents), "
        "w AS (SELECT doc_id, "
        "CAST(floor(n_chars * 10000.0 / mx.mc) AS BIGINT) AS w_bp, "
        + md5_slot_sql(f"'{_IS_SALT}' || CAST(doc_id AS VARCHAR)", 10000)
        + " AS u_bp "
        "FROM documents CROSS JOIN mx) "
        "SELECT doc_id, w_bp, u_bp FROM w WHERE u_bp < w_bp"
    ),
    doc=(
        "IMPORTANCE SAMPLING — deterministic quality-weighted "
        "inclusion: each doc keeps with probability proportional to "
        "its weight (here n_chars vs the corpus max; in production a "
        "quality/domain score), decided by comparing an md5-derived "
        "uniform in [0,10000) against the weight in basis points. "
        "Same salted-md5 determinism as ext_split_train/"
        "ext_corpus_shuffle, so the SAME docs are kept on every run, "
        "engine, and cluster size — reproducible data mixing. Scale "
        "shape: the corpus max broadcasts as a 1-row cross join, the "
        "decision is a map-side filter — zero corpus shuffle."
    ),
)
def ext_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    mx = d.agg(F.max("n_chars").alias("mc"))
    w_bp = F.floor(F.col("n_chars") * 10000.0 / F.col("mc")).cast("bigint")
    u_bp = md5_slot(F.concat(F.lit(_IS_SALT), F.col("doc_id").cast("string")), 10000)
    return (
        d.crossJoin(F.broadcast(mx))
        .select("doc_id", w_bp.alias("w_bp"), u_bp.alias("u_bp"))
        .filter(F.col("u_bp") < F.col("w_bp"))
    )


# ---------------------------------------------------------------------------
# ts_gap_fill

_GAP_FILL_USERS = 30  # bounded eval slice; the plan is per-user generic


@register(
    "ts_gap_fill",
    oracle=(
        f"WITH ev AS (SELECT * FROM ({HOURLY_CENTS_SQL}) "
        f"WHERE user_id < {_GAP_FILL_USERS}), "
        f"joined AS ({dense_hours_sql('ev', 'user_id')}) "
        "SELECT user_id, "
        "CAST(epoch(bucket_ts) AS BIGINT) AS bucket_epoch_s, "
        "last_value(v_c100 IGNORE NULLS) OVER w AS sum_cents_filled, "
        "last_value(n_events IGNORE NULLS) OVER w AS n_events_filled, "
        "(v_c100 IS NULL) AS is_gap "
        "FROM joined "
        "WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ),
    doc=(
        "TIME-SERIES GAP FILL (resample + forward-fill): hourly "
        "buckets per user, a generated dense bucket grid between each "
        "user's first and last bucket (sequence + explode — no "
        "driver loop), then last-observation-carried-forward via "
        "last_value IGNORE NULLS over an unbounded-preceding row "
        "frame. Integer-cents sums for cross-engine exactness, and "
        "the generated grid timestamp is emitted as epoch-seconds "
        "BIGINT (bucket_epoch_s) on both sides so no engine-side "
        "timestamp serialization can diverge (r6 had a hash-only "
        "driver mismatch on the TIMESTAMP column). The oracle's "
        "cents sum is re-CAST to BIGINT because DuckDB widens "
        "SUM(BIGINT) to HUGEINT, whose driver-side serialization "
        "differs from Spark's bigint (the round-1 hasher lesson — "
        "scripts/type_sweep.py flags exactly this). Scale "
        "shape: the (user, hour) bucket aggregate's shuffle, then ONE "
        "user_id shuffle of the bucket table that serves the join-free "
        "densify (operators/timeseries.dense_hours) and the fill "
        "window — no further corpus shuffle. The eval slice bounds "
        "users, not the per-user logic."
    ),
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = hourly_cents(t(spark, sf_dir, "events")).filter(
        F.col("user_id") < _GAP_FILL_USERS
    )
    joined = dense_hours(ev, "user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch_s"),
        F.last("v_c100", ignorenulls=True).over(w).alias("sum_cents_filled"),
        F.last("n_events", ignorenulls=True).over(w).alias("n_events_filled"),
        F.col("v_c100").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# sim_range_search

_RANGE_THR_FP = 2000  # floor(cos * 1e4) >= this, i.e. cosine >= 0.2


@register(
    "sim_range_search",
    oracle=(
        f"WITH {_hp_sig_cte()} "
        "SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
        f"CAST(round(CAST(CAST({dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) "
        "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) "
        "AS cos_sim "
        "FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id "
        f"WHERE CAST(floor({dot_sql('a.embedding', 'b.embedding')} "
        f"/ (a.nrm * b.nrm) * 10000) AS BIGINT) >= {_RANGE_THR_FP}"
    ),
    doc=(
        "Cosine RANGE SEARCH — the threshold form of vector retrieval "
        "(sim_knn_bucket_join is the top-k form): all same-bucket "
        "pairs with cosine above a fixed threshold, no per-query "
        "ranking state at all. Candidates from the 8-bit hyperplane "
        "sketch equi-join (never all-pairs); the threshold compares "
        "the floor'd 1e4 fixed-point cosine (half-boundary-proof "
        "cross-engine, the r6 ANN hardening), the 4dp rounded value "
        "is display output. At 100 TB: one shuffle keyed by sketch "
        "bucket, then a map-side filter — strictly cheaper than "
        "top-k, which is why production range queries (near-dup "
        "candidate generation) prefer it."
    ),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.training import _hp_sig_df

    # Shared hardened sketch table (r16 review: this op's inline copy
    # indexed embedding[0..63] per dimension — ANSI-aborts on any
    # embedding shorter than the planes, the bug r15 fixed only in
    # sim_lsh_hyperplane's copy — and had no zero-norm guard).
    sig = _hp_sig_df(spark, sf_dir)
    a, b = sig.alias("a"), sig.alias("b")
    dot_ab = F.aggregate(
        F.zip_with(
            F.col("a.embedding"),
            F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    raw_cos = dot_ab / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            F.floor(raw_cos * 10000).cast("bigint") >= F.lit(_RANGE_THR_FP)
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.round(raw_cos, 4).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# win_distribution


@register(
    "win_distribution",
    oracle=(
        "SELECT o_orderkey, o_orderpriority, "
        "CAST(floor(percent_rank() OVER w * 10000) AS BIGINT) AS pr_bp, "
        "CAST(floor(cume_dist() OVER w * 10000) AS BIGINT) AS cd_bp, "
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile "
        "FROM orders "
        "WINDOW w AS (PARTITION BY o_orderpriority "
        "ORDER BY o_totalprice, o_orderkey)"
    ),
    doc=(
        "Distribution window family — percent_rank, cume_dist, "
        "ntile(4) — partitioned by order priority, ordered by "
        "(totalprice, orderkey) so every row is a distinct peer and "
        "the ranks are deterministic cross-engine. The rank ratios "
        "are emitted as floor'd basis points (the half-boundary-proof "
        "fixed-point rule). One shuffle keyed by the partition "
        "column; all three functions share a single sort — Spark "
        "computes them in one Window physical node."
    ),
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    # asc_nulls_last mirrors DuckDB's NULLS LAST (r17 hostile vintage)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.percent_rank().over(w) * 10000).cast("bigint").alias("pr_bp"),
        F.floor(F.cume_dist().over(w) * 10000).cast("bigint").alias("cd_bp"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# vec_pq_codebook

_PQ_M = 8   # sub-blocks
_PQ_K = 16  # centroids per block codebook
_PQ_SUB = 8  # dims per sub-block (8 x 8 = the 64-dim embedding)
_PQ_DIM = _PQ_M * _PQ_SUB  # the fixed dimension the codebook is defined over


def _pq_sub_cte() -> str:
    """``sub AS (...)`` — shared per-vector sub-block table for the PQ
    family (vec_pq_codebook here, vec_pq_adc_search in extras_r6b).
    Vectors not carrying the FULL fixed dimension are excluded on both
    engines (r16 review): PQ's codebook is defined over fixed
    {_PQ_SUB}-dim sub-blocks, and the engines disagree on missing-dim
    arithmetic — Spark's posexplode DROPS absent positions from the
    centroid means while the oracle's range() NULLs them, which was
    confirmed live to diverge on a 32-dim vector."""
    return (
        "sub AS (SELECT vec_id, t.m AS m, "
        f"list_transform(embedding[t.m * {_PQ_SUB} + 1 : "
        f"t.m * {_PQ_SUB} + {_PQ_SUB}], "
        "x -> CAST(x AS DOUBLE)) AS sv "
        f"FROM embeddings, range({_PQ_M}) t(m) "
        f"WHERE len(embedding) >= {_PQ_DIM})"
    )


def _pq_dist_sql(sv: str, c: str) -> str:
    return (
        f"list_reduce(list_transform(range({_PQ_SUB}), "
        f"i -> ({sv}[i+1] - {c}[i+1]) * ({sv}[i+1] - {c}[i+1])), "
        "(x, y) -> x + y)"
    )


def _pq_assign_sql(name: str, cent: str) -> str:
    d = _pq_dist_sql("s.sv", "c.c")
    return (
        f"{name} AS (SELECT vec_id, m, cid, dist FROM ("
        f"SELECT s.vec_id, s.m, c.cid, {d} AS dist, "
        f"row_number() OVER (PARTITION BY s.vec_id, s.m "
        f"ORDER BY {d}, c.cid) AS rn "
        f"FROM sub s JOIN {cent} c ON c.m = s.m) WHERE rn = 1)"
    )


def _pq_update_sql(prefix: str, assign: str) -> str:
    mean = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_sort(list(CAST(s.sv[t.i+1] AS DOUBLE)))), (x, y) -> x + y) "
        "/ COUNT(*)"
    )
    return (
        f"{prefix}m AS (SELECT a.m, a.cid, t.i AS pos, {mean} AS mu "
        f"FROM {assign} a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m, "
        f"range({_PQ_SUB}) t(i) GROUP BY a.m, a.cid, t.i), "
        f"{prefix} AS (SELECT m, cid, list(mu ORDER BY pos) AS c "
        f"FROM {prefix}m GROUP BY m, cid)"
    )


_PQ_ORACLE = (
    f"WITH {_pq_sub_cte()}, "
    f"cent0 AS (SELECT m, vec_id AS cid, sv AS c FROM sub WHERE vec_id < {_PQ_K}), "
    + _pq_assign_sql("a1", "cent0")
    + ", "
    + _pq_update_sql("c1", "a1")
    + ", "
    + _pq_assign_sql("a2", "c1")
    + " SELECT vec_id, "
    "array_to_string(list(CAST(cid AS VARCHAR) ORDER BY m), ',') AS codes, "
    "CAST(SUM(CAST(floor(dist * 1000000) AS BIGINT)) AS BIGINT) AS err_u "
    "FROM a2 GROUP BY vec_id"
)


def _pq_train(spark: SparkSession, sf_dir: str):
    """Shared PQ trainer: returns (sub, c1, a2) — the per-vector
    sub-blocks, the 1-iteration-updated codebooks, and the final code
    assignments. Used by vec_pq_codebook (codes + reconstruction
    error) and vec_pq_adc_search (extras_r6b; ADC top-k over the
    codes)."""
    # size >= _PQ_DIM mirrors _pq_sub_cte's dim-conforming filter (r16
    # review) — see that helper's docstring.
    e = ensure_parallelism(t(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") >= _PQ_DIM
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.transform(
                    F.slice("embedding", m * _PQ_SUB + 1, _PQ_SUB),
                    lambda x: x.cast("double"),
                ).alias("sv"),
            )
            for m in range(_PQ_M)
        ]
    )
    sub = e.select("vec_id", F.inline(blocks))

    def dist(sv, c):
        return F.aggregate(
            F.zip_with(sv, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def assign(cent: DataFrame) -> DataFrame:
        j = sub.join(F.broadcast(cent), "m").withColumn(
            "dist", dist(F.col("sv"), F.col("c"))
        )
        # asc_nulls_last mirrors DuckDB's NULLS LAST (r16 review): a
        # NULL distance (degenerate seed from a short embedding) won
        # rank 1 in Spark and lost in DuckDB, flipping every
        # assignment in the affected sub-blocks — confirmed live.
        w = Window.partitionBy("vec_id", "m").orderBy(
            F.asc_nulls_last("dist"), "cid"
        )
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "cid", "dist")
        )

    def update(a: DataFrame) -> DataFrame:
        x = a.join(sub, ["vec_id", "m"]).select(
            "m", "cid", F.posexplode("sv").alias("pos", "val")
        )
        means = x.groupBy("m", "cid", "pos").agg(
            sorted_mean(F.col("val").cast("double")).alias("mu")
        )
        return means.groupBy("m", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                lambda s: s["mu"],
            ).alias("c")
        )

    cent0 = sub.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("c")
    )
    a1 = assign(cent0)
    # EAGER checkpoint between Lloyd iterations: c1 is 128 tiny rows,
    # but its subtree is the full round-1 assignment (corpus window +
    # joins + two aggregates). assign(c1) BROADCASTS c1 — without the
    # barrier that whole iteration executes inside the broadcast
    # future (audit_broadcast_subtrees r13, the dedup_lsh_tune class),
    # and the iterative-family lineage rule wants the barrier anyway.
    c1 = update(a1).localCheckpoint(eager=True)
    a2 = assign(c1)
    return sub, c1, a2


@register(
    "vec_pq_codebook",
    oracle=_PQ_ORACLE,
    doc=(
        "PRODUCT QUANTIZATION — the memory-bound ANN index that "
        "completes the embedding-index family (sim_ann_ivf* = "
        "partition pruning, vec_quantize_int8 = scalar compression, "
        "PQ = sub-space codebooks): the 64-dim embedding splits into "
        "8 sub-blocks of 8 dims; each block trains a 16-centroid "
        "codebook (seeded from vec_id<16, two unrolled Lloyd L2 "
        "iterations — the ml_kmeans_2iter determinism recipe per "
        "block: sorted-fold means, row_number ties on (dist, cid)) "
        "and every vector encodes as 8 one-byte codes — 64 doubles "
        "-> 8 bytes, the 64x compression real PQ indexes ship. "
        "Output: csv code string + total quantization error in "
        "floor'd micro-units (per-block floor then integer sum — "
        "associative, cross-engine exact). Scale shape: codebooks "
        "are 128 tiny rows (broadcast); training joins shuffle "
        "keyed by (m, cid, pos); ENCODING — the 100 TB pass — is "
        "one broadcast join + per-vec argmin, zero corpus shuffle, "
        "and in production the training side runs on a bounded "
        "sample exactly like sim_ann_ivf's codebook build."
    ),
)
def vec_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    _sub, _c1, a2 = _pq_train(spark, sf_dir)
    return a2.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid"))),
                lambda s: s["cid"].cast("string"),
            ),
            ",",
        ).alias("codes"),
        F.sum(F.floor(F.col("dist") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("err_u"),
    )


# ---------------------------------------------------------------------------
# graph_triangle_count

_TRI_USER_CAP = 300  # bounded eval slice (see doc: degree capping at scale)


@register(
    "graph_triangle_count",
    oracle=(
        "WITH ev AS (SELECT DISTINCT user_id, event_type, "
        "CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h "
        f"FROM events WHERE user_id < {_TRI_USER_CAP}), "
        "edges AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v "
        "FROM ev a JOIN ev b ON a.event_type = b.event_type "
        "AND a.h = b.h AND a.user_id < b.user_id), "
        "tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
        "FROM edges e1 JOIN edges e2 ON e2.u = e1.v "
        "JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) "
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM ("
        "SELECT a AS user_id FROM tri UNION ALL "
        "SELECT b AS user_id FROM tri UNION ALL "
        "SELECT c AS user_id FROM tri) GROUP BY user_id"
    ),
    doc=(
        "TRIANGLE COUNTING over the user co-occurrence graph (users "
        "sharing an event_type x hour bucket are adjacent) — "
        "completes the graph-analytics family (ml_pagerank_2iter, "
        "dedup_cluster_cc): per-vertex triangle membership counts, "
        "the local clustering-coefficient numerator used in "
        "fraud/community detection. Uses the id-ORIENTED edge "
        "representation (u<v, each undirected edge once) so every "
        "triangle a<b<c is found exactly once by the two-path join "
        "e(a,b)+e(b,c) closed by e(a,c) — the standard distributed "
        "algorithm; the join is keyed by vertex, never all-pairs. "
        "At 100 TB the pair space inside hot buckets and hot "
        "vertices is bounded by degree capping / high-degree-vertex "
        "splitting; the eval slice bounds users instead, the plan is "
        "the production one."
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < _TRI_USER_CAP)
    ev = e.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).distinct()
    a, b = ev.alias("a"), ev.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .localCheckpoint()  # index build: three join consumers below
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    # One pass over tri (r16 review): the unionAll form re-executed
    # the 3-way triangle join once per branch (exchange reuse saves
    # the shuffles, not the join probe/filter — the operator's
    # dominant cost); explode(array(...)) is the same multiset.
    verts = tri.select(
        F.explode(F.array("a", "b", "c")).alias("user_id")
    )
    return verts.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


# ---------------------------------------------------------------------------
# etl_snapshot_diff

# Synthetic-insert key offset. Must clear the real orderkey space:
# TPC-H o_orderkey tops out at ~6e6·SF, so 1e12 is safe through
# SF ≈ 160k (~100 TB+); the old 1e7 collided from SF ≈ 1.7, silently
# fanning out the full outer join on duplicated keys (r16 review —
# hash parity survived because both engines computed the same wrong
# thing, but the CDC semantics broke).
_SNAP_INS_OFFSET = 1_000_000_000_000


@register(
    "etl_snapshot_diff",
    oracle=(
        "WITH s1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders), "
        "s2 AS (SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END "
        "AS o_orderstatus, "
        "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10 "
        "ELSE o_totalprice END AS o_totalprice "
        "FROM orders WHERE o_orderkey % 13 <> 0 "
        "UNION ALL "
        f"SELECT o_orderkey + {_SNAP_INS_OFFSET}, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey % 11 = 0), "
        "d AS (SELECT COALESCE(s1.o_orderkey, s2.o_orderkey) AS o_orderkey, "
        "s1.o_orderstatus AS old_status, s2.o_orderstatus AS new_status, "
        "s1.o_totalprice AS old_price, s2.o_totalprice AS new_price "
        "FROM s1 FULL OUTER JOIN s2 ON s2.o_orderkey = s1.o_orderkey) "
        "SELECT o_orderkey, "
        "CASE WHEN old_status IS NULL THEN 'I' "
        "WHEN new_status IS NULL THEN 'D' ELSE 'U' END AS op, "
        "old_status, new_status, "
        "CASE WHEN old_status IS NOT NULL AND new_status IS NOT NULL "
        "THEN CAST(round((new_price - old_price) * 100, 0) AS BIGINT) "
        "END AS price_delta_cents "
        "FROM d "
        "WHERE old_status IS NULL OR new_status IS NULL "
        "OR old_status <> new_status OR old_price <> new_price"
    ),
    doc=(
        "SNAPSHOT DIFF / CDC GENERATION — the inverse of etl_upsert's "
        "MERGE: given two table snapshots (the second simulated "
        "deterministically: %7 keys updated, %13 keys deleted, %11 "
        "keys re-inserted under offset ids), emit the minimal "
        "insert/update/delete changefeed with old/new values and the "
        "exact cents delta. This is how warehouse pipelines derive "
        "incremental feeds from full-refresh sources. One full outer "
        "join keyed by the primary key + a map-side change predicate; "
        "unchanged rows (the overwhelming majority at scale) are "
        "filtered before any further processing. At 100 TB both "
        "snapshots bucket/partition by key so the join co-locates."
    ),
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    s1 = o
    upd = F.col("o_orderkey") % 7 == 0
    s2 = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            F.when(upd, F.lit("X")).otherwise(F.col("o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.when(upd, F.col("o_totalprice") + 10)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + _SNAP_INS_OFFSET).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    d = s1.alias("s1").join(
        s2.alias("s2"),
        F.col("s2.o_orderkey") == F.col("s1.o_orderkey"),
        "full_outer",
    ).select(
        F.coalesce(F.col("s1.o_orderkey"), F.col("s2.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.col("s1.o_orderstatus").alias("old_status"),
        F.col("s2.o_orderstatus").alias("new_status"),
        F.col("s1.o_totalprice").alias("old_price"),
        F.col("s2.o_totalprice").alias("new_price"),
    )
    changed = (
        F.col("old_status").isNull()
        | F.col("new_status").isNull()
        | (F.col("old_status") != F.col("new_status"))
        | (F.col("old_price") != F.col("new_price"))
    )
    return d.filter(changed).select(
        "o_orderkey",
        F.when(F.col("old_status").isNull(), F.lit("I"))
        .when(F.col("new_status").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "old_status",
        "new_status",
        F.when(
            F.col("old_status").isNotNull() & F.col("new_status").isNotNull(),
            F.round((F.col("new_price") - F.col("old_price")) * 100, 0).cast(
                "bigint"
            ),
        ).alias("price_delta_cents"),
    )


# ---------------------------------------------------------------------------
# ext_stratified_sample

_STRAT_K = 5
_STRAT_SALT = "ss-v1:"


@register(
    "ext_stratified_sample",
    oracle=(
        "WITH r AS (SELECT doc_id, source, "
        f"md5('{_STRAT_SALT}' || CAST(doc_id AS VARCHAR)) AS rkey, "
        "row_number() OVER (PARTITION BY source ORDER BY "
        f"md5('{_STRAT_SALT}' || CAST(doc_id AS VARCHAR)), doc_id) AS rk "
        "FROM documents) "
        f"SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= {_STRAT_K}"
    ),
    doc=(
        "STRATIFIED SAMPLING — exactly K docs per stratum (source), "
        "selected by salted-md5 order so the sample is uniform within "
        "each stratum yet fully deterministic across runs, engines, "
        "and cluster sizes (the eval-set / ablation-split primitive; "
        "ext_importance_sample weights globally, this quotas per "
        "group). One shuffle keyed by the stratum column; the window "
        "top-K never materializes more than K rows per stratum past "
        "the sort — Spark plans it as a rank-limited window, the "
        "standard per-group reservoir at scale."
    ),
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    rkey = F.md5(F.concat(F.lit(_STRAT_SALT), F.col("doc_id").cast("string")))
    # asc_nulls_last mirrors DuckDB's NULLS LAST (r16 review): a NULL
    # doc_id makes rkey NULL, which Spark's default asc ranked rk=1
    # (into the sample) while DuckDB ranked it last (out).
    w = Window.partitionBy("source").orderBy(
        rkey.asc_nulls_last(), F.col("doc_id").asc_nulls_last()
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _STRAT_K)
        .select("doc_id", "source", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# pipe_ingest_audited — the nightly incremental-ingest composite
# (VERDICT r5 item 8): etl_dedup_incremental's admitted batch flows
# through snk_write_audit_publish's write-audit-publish gate as ONE
# registered pipeline.


def _incremental_oracle() -> str:
    # Import the defining module first so reading REGISTRY works even
    # when extras_r6 is imported directly, not via queries/__init__
    # (ADVICE r6: import-order independence).
    import duckdb_data_eng_proj_spark.queries.extras_r5  # noqa: F401
    from duckdb_data_eng_proj_spark.queries.registry import REGISTRY

    return REGISTRY["etl_dedup_incremental"].oracle


@register(
    "pipe_ingest_audited",
    # The published data must equal the planned batch, so the oracle is
    # etl_dedup_incremental's verified SQL (extras_r5 imports first).
    oracle=_incremental_oracle(),
    doc=(
        "AUDITED INCREMENTAL INGEST — the composite a production "
        "training-corpus pipeline runs nightly: (1) the incoming crawl "
        "batch is deduplicated against the existing fingerprint index "
        "(etl_dedup_incremental's anti-join + first-occurrence "
        "survivor rule), (2) the admitted rows are written to a "
        "STAGING location, (3) an audit gate re-reads staging and "
        "reconciles it against the plan (row count, null keys, zero "
        "overlap with the existing index — the write-audit-publish "
        "contract), (4) only on a clean audit is staging atomically "
        "renamed into the published location (previous copy moved "
        "aside, never mixed), (5) the returned DataFrame is the "
        "PUBLISHED data read back, so the correctness hash certifies "
        "the full write→audit→publish path, not just the plan. Scale "
        "shape: audit counts are O(batch) aggregates over staging; "
        "publish is a metadata rename — the pattern is identical on "
        "an object store with a manifest swap."
    ),
)
def pipe_ingest_audited(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from duckdb_data_eng_proj_spark.io.scratch import scratch_dir
    from duckdb_data_eng_proj_spark.queries.extras_r5 import (
        etl_dedup_incremental,
        existing_fingerprint_index,
    )

    stage = scratch_dir("corpus_ingest_stage")
    pub = scratch_dir("corpus_ingest_pub")

    batch = etl_dedup_incremental(spark, sf_dir)
    batch.write.mode("overwrite").parquet(stage)

    # Audit gate: reconcile the staged batch against the plan's own
    # invariants before anything becomes visible to consumers.
    staged = spark.read.parquet(stage)
    n_plan = batch.count()
    # One staged scan serves both audit counters (r16 review —
    # snk_write_audit_publish's template fix, mirrored here).
    n_staged, n_null = staged.agg(
        F.count("*"),
        F.count(
            F.when(
                F.col("doc_id").isNull() | F.col("fingerprint").isNull(),
                F.lit(1),
            )
        ),
    ).first()
    # Same index DataFrame the batch plan anti-joins against (shared
    # helper — the audit can never reconcile vs a diverged definition).
    existing = existing_fingerprint_index(spark, sf_dir)
    n_overlap = staged.join(existing, "fingerprint", "left_semi").count()
    if n_staged != n_plan or n_null != 0 or n_overlap != 0:
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"ingest audit failed: staged={n_staged} plan={n_plan} "
            f"nulls={n_null} index_overlap={n_overlap}; publish aborted"
        )

    # Atomic publish (same contract as snk_write_audit_publish): move
    # the old copy aside, rename staging in, drop the old copy.
    old = pub + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(pub):
        os.rename(pub, old)
    os.rename(stage, pub)
    shutil.rmtree(old, ignore_errors=True)

    return spark.read.parquet(pub).select("doc_id", "fingerprint")
