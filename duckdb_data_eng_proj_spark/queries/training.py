"""Training-data-pipeline operators: text analysis, dedup, similarity.

North-star ops over the ``documents`` / ``embeddings`` testdata tables
(BASELINE.json; the reference project itself has no text/vector
surface — SURVEY.md §2.8). Every query here is oracle-checked: the
DuckDB SQL mirrors the Spark plan expression-by-expression, and the
hash primitives (md5, sequential double folds) are chosen to be
bit-identical across engines.

Scale design (the part that matters at 100 TB):
- Tokenize / shingle / MinHash / SimHash are narrow map stages —
  pure built-in higher-order functions, whole-stage codegen, zero
  shuffles, zero Python.
- Near-dup candidate generation is LSH band-bucket join (shuffle on
  bucket hash — uniformly distributed by construction, no skew) —
  never an O(n²) crossJoin.
- Exact n-gram Jaccard uses an inverted-index join on shingle
  (shuffle keyed by shingle; stop-shingle skew would be handled by
  AQE skew-join at scale).
- Vector similarity is bucketed (label buckets / IVF centroids) so
  the pair space is bounded; brute-force top-k exists as the
  small-side baseline with the query set broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.textops import (
    BPE_TOKEN_RE,
    EN_STOPWORDS,
    LANG_MARKERS,
    MINHASH_P,
    hex_nibble,
    TOK_SQL,
    tokens,
    word_ngrams,
)
from duckdb_data_eng_proj_spark.functions.scalars import doc_bucket100
from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.lsh import (
    BUCKET_COLS,
    N_HASHES,
    ROWS_PER_BAND,
    band_table,
    bucket_pairs,
    first_match,
    shingle_sets,
)
from duckdb_data_eng_proj_spark.operators.vectors import (
    dot,
    pack_centroids,
    scored_centroids,
)
from duckdb_data_eng_proj_spark.queries.registry import register, t

# ---------------------------------------------------------------------------
# Shared DuckDB oracle fragments (mirror the Spark expressions 1:1)
# ---------------------------------------------------------------------------

# tokens(text): lower → trim → split \s+ → drop empties — single-
# sourced from operators/textops.TOK_SQL (lives next to tokens() so
# the Spark/SQL pair can't drift; r16 consolidation).
_TOK = TOK_SQL
_TOKS_CTE = f"toks AS (SELECT doc_id, {_TOK} AS tk FROM documents)"


def _shingles_sql(tk: str) -> str:
    """Rolling 5-gram shingle list over token column ``tk`` — the SQL
    mirror of ``word_ngrams(tk, 5)`` (typed-empty when < 5 tokens).
    Parameterized by the column reference so every oracle renders the
    byte-identical fragment it carried before the r16 consolidation."""
    return (
        f"CASE WHEN len({tk}) >= 5 THEN list_transform(range(len({tk}) - 4), "
        f"i -> array_to_string({tk}[i+1:i+5], ' ')) ELSE []::VARCHAR[] END"
    )


def _fp_sql(tk: str, shingles: str) -> str:
    """Winnowing fingerprint: min md5 over the 5-gram shingles, whole-
    text md5 fallback for short docs — the SQL mirror of
    ``_fingerprint_expr`` below. ``shingles`` may be a column reference
    or an inline shingle expression (pipe_corpus_clean's _QL_CTE).

    Zero-token docs fingerprint as NULL on BOTH engines (r17
    blank-text vintage: DuckDB's array_to_string([]) is NULL while
    Spark's array_join([]) is '' — md5 of those split the engines;
    NULL also matches the etl_dedup_incremental rule that
    unfingerprintable rows are not admissible)."""
    return (
        f"CASE WHEN len({tk}) >= 5 THEN "
        f"list_aggregate(list_transform({shingles}, s -> md5(s)), 'min') "
        f"WHEN len({tk}) > 0 THEN md5(array_to_string({tk}, ' ')) "
        "ELSE NULL END"
    )


def _fingerprint_expr(tk, shingles):
    """Spark twin of ``_fp_sql``: min md5 shingle / whole-text md5
    fallback (zero-token docs -> NULL, see _fp_sql), shared by
    txt_fingerprint and ext_corpus_release_diff."""
    return (
        F.when(
            F.size(tk) >= 5,
            F.array_min(F.transform(shingles, lambda s: F.md5(s))),
        )
        .when(F.size(tk) > 0, F.md5(F.array_join(tk, " ")))
        .otherwise(F.lit(None).cast("string"))
    )

# distinct word bigrams (the shingle set for MinHash / Jaccard)
_BG = (
    "CASE WHEN len(tk) >= 2 THEN list_distinct(list_transform(range(len(tk) - 1), "
    "i -> tk[i+1] || ' ' || tk[i+2])) ELSE []::VARCHAR[] END"
)
_BG_CTE = f"bg AS (SELECT doc_id, {_BG} AS bg FROM toks)"


# Kirsch-Mitzenmacher double hashing (operators/textops.py): one md5
# per shingle → (a, b|1) 60-bit ints → hash j = min (a + j·b) mod P.
# Every CTE is referenced exactly once (DuckDB inlines CTEs per
# reference — a UNION ALL over sig would re-run the whole hash
# pipeline per band; the struct-unnest keeps it single-pass).
# ONE source of truth for the minhash modulus: the Spark signatures
# come from operators/textops.minhash_from_pairs, which uses
# textops.MINHASH_P — a separate literal here would let the two
# constants drift and silently break Spark/oracle parity for the
# whole LSH family (round-15 review).
_MINHASH_P = MINHASH_P

_HS_CTE = "hs AS (SELECT doc_id, list_transform(bg, s -> md5(s)) AS hs FROM bg)"

_PAIRS_CTE = (
    "pairs AS (SELECT doc_id, list_transform(hs, h -> {"
    "'a': CAST('0x' || substr(h, 1, 15) AS BIGINT), "
    "'b': CAST('0x' || substr(h, 17, 15) AS BIGINT) | 1"
    "}) AS ps FROM hs)"
)


def _minhash_sql(j: int) -> str:
    return (
        f"list_aggregate(list_transform(ps, p -> (p.a + {j} * p.b) % {_MINHASH_P}),"
        " 'min')"
    )


_SIG_CTE = "sig AS (SELECT doc_id, " + ", ".join(
    f"{_minhash_sql(j)} AS h{j}" for j in range(N_HASHES)
) + " FROM pairs)"

_BANDS_CTE = (
    "bands AS (SELECT doc_id, u.band AS band, u.bucket AS bucket FROM ("
    "SELECT doc_id, unnest(["
    + ", ".join(
        f"{{'band': {b}, 'bucket': md5(CAST(h{2 * b} AS VARCHAR) || '|' || "
        f"CAST(h{2 * b + 1} AS VARCHAR))}}"
        for b in range(N_HASHES // ROWS_PER_BAND)
    )
    + "]) AS u FROM sig))"
)

# Body exposed separately so WITH-RECURSIVE composers (dedup_cluster_cc,
# graph_mst_boruvka oracles) can prepend their own keyword instead of
# slicing "WITH " off the front (r16: replaces the
# _LSH_PRELUDE[len("WITH "):] string surgery at both sites).
_LSH_PRELUDE_BODY = (
    f"{_TOKS_CTE}, {_BG_CTE}, {_HS_CTE}, {_PAIRS_CTE}, {_SIG_CTE}, {_BANDS_CTE}"
)
_LSH_PRELUDE = f"WITH {_LSH_PRELUDE_BODY}"


def _dot_sql(a: str, b: str) -> str:
    """Sequential left fold in DOUBLE — same order as F.aggregate.

    Over the COMMON PREFIX of both lists (r17 hostile-vintage sweep):
    Spark's zip_with truncates to the shorter operand, but
    range(len(a)) indexed b[i] past b's end — NULL in DuckDB, so a
    short-embedding pair read NULL cos where Spark computed a prefix
    cos. least() is the identity on equal-length vectors (every
    generated vintage); mismatched lengths now mean prefix-cosine on
    BOTH engines — the hyperplane family's sliced-plane semantics
    extended to pair cosines. Centroid/codebook families instead
    EXCLUDE off-contract vectors (the fixed-dim rule)."""
    return (
        f"list_reduce(list_transform(range(least(len({a}), len({b}))), "
        f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)), (x, y) -> x + y)"
    )


# per-row squared norm, reused by every similarity oracle
_EMB_CTE = (
    "e AS (SELECT vec_id, label, embedding, "
    f"sqrt({_dot_sql('embedding', 'embedding')}) AS nrm FROM embeddings)"
)


def _lsh_bands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, bucket) rows — the shared MinHash-LSH front half
    (operators/lsh.band_table) over the documents table."""
    return band_table(_bigram_sets_df(spark, sf_dir))


def _bigram_sets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bg) shingle sets. The input is repartitioned up to core
    count first: hashing dominates, and a sub-MB documents file would
    otherwise run the whole stage on two cores."""
    return shingle_sets(ensure_parallelism(t(spark, sf_dir, "documents")))


def _lsh_cand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b), each emitted EXACTLY once —
    the r21 front half for candidate-only consumers (currently
    txt_longest_common_substring; graph_jaccard_neighbors A/B'd the
    same move and read ~+0.2 s under the bench protocol — its extra
    band-table checkpoint job floor isn't paid back by a tail as light
    as its two SMJs — so it deliberately keeps the DISTINCT shape).

    Shape (the r20 corpus._near_dup_pairs pattern, minus the shingle
    sets those verifying callers need): ONE eagerly checkpointed band
    table carrying each doc's full bucket vector feeds both sides of
    the (band, bucket) self-join, and the FIRST-MATCH-BAND predicate
    (lsh.first_match) replaces DISTINCT — each pair appears at its
    smallest agreeing band only.
    vs the previous bands-self-join-then-DISTINCT form this computes
    the MinHash hashing chain ONCE (it used to run once per join side:
    one side sits under a BroadcastExchange, so ReuseExchange never
    dedups it) and drops the DISTINCT exchange. Exact multiset
    equality with the DISTINCT form measured at sf0.1 (72228 pairs,
    exceptAll both ways empty) and pinned by
    tests/test_r21_opt_laws.py and tests/test_lsh.py; per-call cost
    0.91 s -> 0.73 s. Returns the LAZY pair stream over the
    checkpointed band table; callers checkpoint the result when it
    feeds more than one consumer."""
    bands = band_table(
        _bigram_sets_df(spark, sf_dir), bucket_vector=True
    ).localCheckpoint()
    x, y = bands.alias("x"), bands.alias("y")
    return x.join(y, first_match("bucket", BUCKET_COLS)).select(
        F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "ext_text_tokens",
    oracle=(
        f"WITH {_TOKS_CTE} "
        "SELECT tkn AS token, COUNT(*) AS cnt FROM "
        "(SELECT unnest(tk) AS tkn FROM toks) GROUP BY tkn"
    ),
    doc=(
        "Corpus token frequency (SURVEY §2.8 ext_text_tokens): tokenize → "
        "explode → groupBy count. One shuffle keyed by token; partial "
        "aggregation (map-side combine) makes the shuffle O(|vocab|) per "
        "partition, not O(corpus)."
    ),
)
def ext_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "txt_token_count",
    oracle=(
        f"WITH {_TOKS_CTE} "
        "SELECT d.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens_ws, "
        "CAST(len(regexp_extract_all(lower(trim(d.text)), "
        f"'{BPE_TOKEN_RE}')) AS BIGINT) AS n_tokens_bpe, "
        "CAST(length(trim(d.text)) AS BIGINT) AS n_chars "
        "FROM documents d JOIN toks t USING (doc_id)"
    ),
    doc=(
        "Per-doc token counting, whitespace + BPE-ish regex "
        "([a-z]+|[0-9]+|punct). Narrow map stage, no shuffle."
    ),
)
def txt_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    norm_text = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens_ws"),
        F.size(F.regexp_extract_all(norm_text, F.lit(BPE_TOKEN_RE), 0))
        .cast("long")
        .alias("n_tokens_bpe"),
        F.length(F.trim(F.col("text"))).cast("long").alias("n_chars"),
    )


def _lang_hits_spark(tk, lang: str):
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(tk, lambda x: F.array_contains(markers, x))).cast("long")


def _lang_hits_sql(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"CAST(len(list_filter(tk, x -> list_contains([{lst}], x))) AS BIGINT)"


_LANG_PRED_SQL = (
    "CASE WHEN en_hits > 0 AND en_hits >= de_hits AND en_hits >= fr_hits "
    "AND en_hits >= es_hits THEN 'en' "
    "WHEN de_hits > 0 AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de' "
    "WHEN fr_hits > 0 AND fr_hits >= es_hits THEN 'fr' "
    "WHEN es_hits > 0 THEN 'es' ELSE 'und' END"
)


@register(
    "txt_lang_id",
    oracle=(
        f"WITH {_TOKS_CTE}, hits AS (SELECT doc_id, "
        + ", ".join(f"{_lang_hits_sql(lg)} AS {lg}_hits" for lg in LANG_MARKERS)
        + " FROM toks) "
        f"SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, {_LANG_PRED_SQL} AS pred_lang "
        "FROM hits"
    ),
    doc=(
        "Language ID via stopword-marker hits with deterministic argmax "
        "tie-break (en>de>fr>es, 'und' when no marker hits). Pure map "
        "stage; a production version swaps the marker sets for char "
        "n-gram profiles — same plan shape."
    ),
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # Materialize the token array behind a projection barrier: inlined
    # into the four hit columns, the interpreted HOF re-tokenizes every
    # row 4x (no CSE across expressions — the measured 6x pattern the
    # lsh.shingle_sets comment documents).
    toks = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    tk = F.col("tk")
    hits = toks.select(
        "doc_id", *[_lang_hits_spark(tk, lg).alias(f"{lg}_hits") for lg in LANG_MARKERS]
    )
    en, de, fr, es = [F.col(f"{lg}_hits") for lg in ("en", "de", "fr", "es")]
    pred = (
        F.when((en > 0) & (en >= de) & (en >= fr) & (en >= es), "en")
        .when((de > 0) & (de >= fr) & (de >= es), "de")
        .when((fr > 0) & (fr >= es), "fr")
        .when(es > 0, "es")
        .otherwise("und")
    )
    return hits.select(
        "doc_id", "en_hits", "de_hits", "fr_hits", "es_hits", pred.alias("pred_lang")
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in EN_STOPWORDS)


@register(
    "txt_quality_score",
    oracle=(
        f"WITH {_TOKS_CTE}, m AS ("
        "SELECT d.doc_id, CAST(length(trim(d.text)) AS BIGINT) AS n_chars, "
        "CAST(len(t.tk) AS BIGINT) AS n_tokens, "
        "list_reduce(list_prepend(0, list_transform(t.tk, x -> length(x))), "
        "(a, b) -> a + b) AS sum_tok_len, "
        "CAST(length(lower(trim(d.text))) - length(regexp_replace("
        "lower(trim(d.text)), '[^a-z0-9\\s]', '', 'g')) AS BIGINT) "
        "AS punct_cnt, "
        f"CAST(len(list_filter(t.tk, x -> list_contains([{_STOP_SQL}], x))) AS BIGINT) "
        "AS stop_cnt "
        "FROM documents d JOIN toks t USING (doc_id)) "
        "SELECT doc_id, n_chars, n_tokens, "
        # Every display rounding below replays Spark's F.round(double, d)
        # exactly: round on the SHORTEST-REPR decimal (DuckDB's
        # double->VARCHAR cast) instead of the exact binary — the r16
        # halfway-class divergence (repro 0.28499999999999998; fuzz +
        # pin: tests/test_r17_laws.py).
        "CAST(round(CAST(CAST(CAST(sum_tok_len AS DOUBLE) / nullif(n_tokens, 0) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS avg_token_len, "
        "CAST(round(CAST(CAST(CAST(punct_cnt AS DOUBLE) / nullif(n_chars, 0) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS punct_ratio, "
        "CAST(round(CAST(CAST(CAST(stop_cnt AS DOUBLE) / nullif(n_tokens, 0) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS stopword_ratio, "
        "CAST(round(CAST(CAST(0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) "
        "+ 0.3 * (CAST(stop_cnt AS DOUBLE) / nullif(n_tokens, 0)) "
        "+ 0.2 * (1.0 - least(1.0, 10.0 * CAST(punct_cnt AS DOUBLE) / nullif(n_chars, 0))) "
        "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) "
        "AS quality_score FROM m"
    ),
    doc=(
        "Per-doc quality scoring: length / punctuation / stopword-ratio "
        "components combined into [0,1]. Integer counting is exact; the "
        "single double division + round(4) is cross-engine stable. Pure "
        "map stage."
    ),
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    # Token array behind a projection barrier (defensive — the r6 x8
    # investigation showed this op's ~3x growth is honest linear
    # compute saturation, ~30us/doc over fixed cores, not re-eval or
    # parallelism loss; see README Scale validation note).
    toks = d.select("doc_id", "text", tokens(F.col("text")).alias("tk"))
    tk = F.col("tk")
    norm_text = F.lower(F.trim(F.col("text")))
    m = toks.select(
        "doc_id",
        F.length(F.trim(F.col("text"))).cast("long").alias("n_chars"),
        F.size(tk).cast("long").alias("n_tokens"),
        F.aggregate(tk, F.lit(0), lambda a, x: a + F.length(x)).alias("sum_tok_len"),
        # length-diff of a global regexp_replace counts matches without
        # materializing a per-char array (the r6 stress hot spot)
        (
            F.length(norm_text)
            - F.length(F.regexp_replace(norm_text, r"[^a-z0-9\s]", ""))
        )
        .cast("long")
        .alias("punct_cnt"),
        F.size(F.filter(tk, lambda x: F.array_contains(stop_arr, x)))
        .cast("long")
        .alias("stop_cnt"),
    )
    n_chars, n_tokens = F.col("n_chars"), F.col("n_tokens")
    tok_div = F.nullif(n_tokens, F.lit(0))
    chr_div = F.nullif(n_chars, F.lit(0))
    stop_ratio_raw = F.col("stop_cnt").cast("double") / tok_div
    punct_ratio_raw = F.col("punct_cnt").cast("double") / chr_div
    return m.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(F.col("sum_tok_len").cast("double") / tok_div, 4).alias("avg_token_len"),
        F.round(punct_ratio_raw, 4).alias("punct_ratio"),
        F.round(stop_ratio_raw, 4).alias("stopword_ratio"),
        F.round(
            0.5 * F.least(F.lit(1.0), n_tokens.cast("double") / 50.0)
            + 0.3 * stop_ratio_raw
            + 0.2 * (1.0 - F.least(F.lit(1.0), 10.0 * punct_ratio_raw)),
            4,
        ).alias("quality_score"),
    )


@register(
    "txt_fingerprint",
    oracle=(
        f"WITH {_TOKS_CTE}, sh AS (SELECT doc_id, tk, "
        f"{_shingles_sql('tk')} AS shingles "
        "FROM toks) "
        "SELECT doc_id, "
        f"{_fp_sql('tk', 'shingles')} AS fingerprint, "
        "CASE WHEN len(tk) >= 5 THEN CAST(len(list_distinct(shingles)) AS BIGINT) "
        "ELSE CAST(1 AS BIGINT) END AS n_shingles FROM sh"
    ),
    doc=(
        "Document fingerprinting: min-hash over rolling 5-gram shingles "
        "(winnowing's keep-min rule with window = whole doc); short docs "
        "fall back to a whole-text hash. Pure map stage; the fingerprint "
        "column then feeds exact-dedup by fingerprint at corpus scale."
    ),
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    base = toks.select(
        "doc_id", "tk", word_ngrams(F.col("tk"), 5).alias("shingles")
    )
    has5 = F.size(F.col("tk")) >= 5
    return base.select(
        "doc_id",
        _fingerprint_expr(F.col("tk"), F.col("shingles")).alias("fingerprint"),
        F.when(has5, F.size(F.array_distinct(F.col("shingles"))).cast("long"))
        .otherwise(F.lit(1).cast("long"))
        .alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_lsh",
    oracle=(
        f"{_LSH_PRELUDE} "
        "SELECT doc_id, band, bucket FROM bands WHERE bucket IS NOT NULL"
    ),
    doc=(
        "MinHash-LSH bucket assignment: bigram shingle set → 8 seeded-md5 "
        "minhashes → 4 bands × 2 rows → bucket = md5(band slice). The "
        "(band, bucket) rows are the join key for candidate generation — "
        "at 100 TB this is THE near-dup plan: one narrow map stage, then "
        "a shuffle keyed by uniformly-distributed bucket hash."
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_bands_df(spark, sf_dir)


@register(
    "ext_dedup_near",
    oracle=(
        f"{_LSH_PRELUDE}, "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
        "FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket "
        "AND x.doc_id < y.doc_id WHERE x.bucket IS NOT NULL) "
        "SELECT c.doc_a, c.doc_b, "
        "CAST(round(CAST(CAST(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / "
        "(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) "
        "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS jaccard "
        "FROM cand c JOIN bg a ON a.doc_id = c.doc_a JOIN bg b ON b.doc_id = c.doc_b "
        "WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / "
        "(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) >= 0.02"
    ),
    doc=(
        "Near-dup pipeline end-to-end: LSH candidates (band-bucket "
        "self-join, doc_a < doc_b) verified with exact bigram-set "
        "Jaccard. The candidate join replaces the O(n²) crossJoin — "
        "only same-bucket pairs are ever materialized; verification "
        "joins the (small) candidate list back to the shingle sets."
    ),
)
def ext_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same checkpoint-the-front-half pattern as dedup_simhash_pairs /
    # dedup_fuzzy_edit: bands feed both self-join sides, sets feed
    # both verification sides, on different partition keys each time.
    cand = bucket_pairs(_lsh_bands_df(spark, sf_dir).localCheckpoint())
    sets = _bigram_sets_df(spark, sf_dir).localCheckpoint()
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("bg").alias("bg_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("bg").alias("bg_b"))
    inter = F.size(F.array_intersect(F.col("bg_a"), F.col("bg_b")))
    union = F.size(F.col("bg_a")) + F.size(F.col("bg_b")) - inter
    jac = inter.cast("double") / union
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= 0.02)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=(
        f"WITH {_TOKS_CTE}, {_BG_CTE}, "
        "inv AS (SELECT doc_id, unnest(bg) AS g FROM bg), "
        "shared AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "COUNT(*) AS n_shared FROM inv x JOIN inv y ON x.g = y.g "
        "AND x.doc_id < y.doc_id GROUP BY 1, 2), "
        "sz AS (SELECT doc_id, len(bg) AS sz FROM bg) "
        "SELECT s.doc_a, s.doc_b, "
        "CAST(round(CAST(CAST(CAST(s.n_shared AS DOUBLE) / (a.sz + b.sz - s.n_shared) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS jaccard "
        "FROM shared s JOIN sz a ON a.doc_id = s.doc_a JOIN sz b ON b.doc_id = s.doc_b "
        "WHERE CAST(s.n_shared AS DOUBLE) / (a.sz + b.sz - s.n_shared) >= 0.05"
    ),
    doc=(
        "Exact n-gram Jaccard via inverted-index join: explode shingle "
        "sets, self-join on shingle, count shared per pair, derive "
        "|A∪B| = |A|+|B|-shared. This shape (index join + per-pair "
        "count) is the scalable exact-verification plan — shuffle is "
        "keyed by shingle, pairs never enumerate beyond co-occurring "
        "docs. Stop-shingle guard (VERDICT r2 #7): postings whose "
        "document frequency exceeds MAX_SHINGLE_DF are dropped from "
        "the index before the pair join — a shingle in k docs creates "
        "k² candidate pairs, so one stop-shingle at corpus scale is a "
        "quadratic blowup AQE can only partially absorb. The cutoff "
        "(100k) sits far above any fixture DF (≤5k docs), so fixture "
        "semantics are unchanged; at 100 TB it bounds the worst key. "
        "Jaccard for pairs sharing a *dropped* shingle is slightly "
        "underestimated — the standard, documented approximation."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_jaccard(spark, sf_dir, max_df=MAX_SHINGLE_DF)


MAX_SHINGLE_DF = 100_000


def _ngram_jaccard(spark: SparkSession, sf_dir: str, max_df: int) -> DataFrame:
    sets = _bigram_sets_df(spark, sf_dir)
    inv = sets.select("doc_id", F.explode("bg").alias("g"))
    # stop-shingle guard: group/having on the posting key (tiny output
    # by construction — only shingles hotter than the cap) broadcast
    # anti-joined back, same pattern as the ETL dupe tables
    hot = inv.groupBy("g").agg(F.count("*").alias("df")).filter(
        F.col("df") > max_df
    )
    inv = inv.join(F.broadcast(hot.select("g")), "g", "left_anti")
    x, y = inv.alias("x"), inv.alias("y")
    shared = (
        x.join(y, (F.col("x.g") == F.col("y.g")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sz = sets.select("doc_id", F.size("bg").alias("sz"))
    a = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    b = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_shared").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    )
    return (
        shared.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= 0.05)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def _simhash_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    tkd = d.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tkn")
    )
    md5c = F.md5(F.col("tkn"))
    pre = tkd.select(
        "doc_id", *[hex_nibble(md5c, p).alias(f"n{p}") for p in range(16)]
    )
    aggs = [
        F.sum(
            F.when(F.col(f"n{p}").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"s{p}_{b}")
        for p in range(16)
        for b in range(4)
    ]
    g = pre.groupBy("doc_id").agg(*aggs)
    nibbles = [
        sum(
            [
                F.when(F.col(f"s{p}_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(4)
            ],
            start=F.lit(0),
        )
        for p in range(16)
    ]
    hex_chars = [F.lower(F.conv(nib.cast("string"), 10, 16)) for nib in nibbles]
    return g.select("doc_id", F.concat(*hex_chars).alias("simhash"))


def _simhash_oracle() -> str:
    nib = "CAST('0x' || substr(md5(tkn), {p}, 1) AS INT)"
    pre_cols = ", ".join(nib.format(p=p + 1) + f" AS n{p}" for p in range(16))
    agg_cols = ", ".join(
        f"SUM(CASE WHEN (n{p} & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS s{p}_{b}"
        for p in range(16)
        for b in range(4)
    )
    nibble_exprs = [
        "("
        + " + ".join(f"CASE WHEN s{p}_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(4))
        + ")"
        for p in range(16)
    ]
    hex_concat = " || ".join(f"lower(to_hex({e}))" for e in nibble_exprs)
    return (
        f"WITH {_TOKS_CTE}, "
        "tkn AS (SELECT doc_id, unnest(list_distinct(tk)) AS tkn FROM toks), "
        f"pre AS (SELECT doc_id, {pre_cols} FROM tkn), "
        f"g AS (SELECT doc_id, {agg_cols} FROM pre GROUP BY doc_id) "
        f"SELECT doc_id, {hex_concat} AS simhash FROM g"
    )


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc=(
        "64-bit SimHash signature (16 hex chars): per distinct token, "
        "md5 bits vote ±1 per position; sign of the per-doc sum sets the "
        "bit. Implemented as one explode + one 64-column conditional "
        "aggregation — a single shuffle keyed by doc_id with map-side "
        "combine, fully codegen'd. Near-dup pairs = signatures within "
        "small Hamming distance (bucketed by 16-bit chunks at scale)."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_select(spark, sf_dir)


@register(
    "dedup_embed_cosine",
    oracle=(
        f"WITH {_EMB_CTE} "
        "SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b, "
        f"CAST(round(CAST(CAST({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) "
        "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS cos_sim "
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id "
        "WHERE a.nrm > 0 AND b.nrm > 0 "
        f"AND {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.3"
    ),
    doc=(
        "Embedding-cosine near-dup: pairs within the same label bucket "
        "with cosine ≥ 0.3. The label equi-join bounds the pair space "
        "(bucketed all-pairs, shuffle keyed by label) — the same plan "
        "runs with LSH/IVF bucket ids when no natural bucket exists. "
        "BLOCKING-KEY ASSUMPTION (VERDICT r8): within-bucket work is "
        "QUADRATIC in the bucket size — this operator is the exact-"
        "verify primitive and presumes max per-key group size stays "
        "~1e4 vectors (≤1e8 dot products per bucket); for unblocked or "
        "skew-keyed corpora use sim_lsh_hyperplane / sim_ann_ivf, which "
        "bound candidates independent of any natural key."
    ),
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    # zero-norm vectors have no defined cosine — excluded on BOTH
    # engines (r17, the _drift_assign_cte rule's brute-force residue)
    en = e.select("vec_id", "label", "embedding", F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm")).filter(F.col("nrm") > 0)
    a, b = en.alias("a"), en.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= 0.3)
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "ext_sim_topk",
    oracle=(
        f"WITH {_EMB_CTE}, scored AS ("
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        f"{_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cos_raw "
        "FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id "
        "AND q.nrm > 0 AND c.nrm > 0) "
        "SELECT query_id, neighbor_id, CAST(round(CAST(CAST(cos_raw AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS cos_sim, rank FROM ("
        "SELECT query_id, neighbor_id, cos_raw, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank "
        "FROM scored) WHERE rank <= 5"
    ),
    doc=(
        "Brute-force cosine top-k (k=5) for a 10-query batch: query set "
        "broadcast against the full corpus, windowed row_number per "
        "query. The baseline ANN oracle — sim_ann_ivf* is the scale "
        "path. Deterministic tie-break by neighbor_id."
    ),
)
def ext_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    # zero-norm query or corpus vectors excluded on BOTH engines (r17)
    en = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    q = en.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        F.broadcast(q)
        .join(en, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_raw")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# Zero norms excluded on both sides (r16, the _drift_assign_cte rule
# extended to the read family): a zero-norm CENTROID makes every
# cosine NaN and the engines break the argmax tie differently; a
# zero-norm VECTOR divides by zero, which Spark's ANSI mode raises on.
# Cosine to/from the zero vector is undefined, so both engines drop
# such rows from assignment — _ivf_parts applies the same two filters.
# ... and the FIXED-DIM contract (r17 hostile-vintage sweep, the PQ
# family's rule): an off-width vector has no defined cosine against a
# 64-dim centroid — excluded from the index and from probing on BOTH
# engines (the pair-cos family instead computes prefix cosines; see
# _dot_sql).
_ASSIGN_CTES = (
    f"{_EMB_CTE}, cent AS (SELECT vec_id AS centroid_id, embedding AS c_emb, nrm AS c_nrm "
    "FROM e WHERE vec_id < 16 AND nrm > 0 AND len(embedding) = 64), "
    "assign AS (SELECT vec_id, centroid_id, cos_raw FROM ("
    "SELECT v.vec_id, c.centroid_id, "
    f"{_dot_sql('v.embedding', 'c.c_emb')} / (v.nrm * c.c_nrm) AS cos_raw, "
    "row_number() OVER (PARTITION BY v.vec_id ORDER BY "
    f"{_dot_sql('v.embedding', 'c.c_emb')} / (v.nrm * c.c_nrm) DESC, c.centroid_id) AS rn "
    "FROM e v CROSS JOIN cent c WHERE v.nrm > 0 AND len(v.embedding) = 64) "
    "WHERE rn = 1)"
)


def _ivf_parts(spark: SparkSession, sf_dir: str):
    """(normed vectors, centroids, assignment) — shared IVF front half.

    Assignment is a map-side argmax: the 16 centroids are packed into
    a single broadcast row and each vector reduces the in-row array
    with ``array_min`` over (neg_cos, cid) — the corpus is never
    shuffled (round 1 expanded ×16 then shuffled for a row_number
    window; VERDICT r1 "What's wrong" #2)."""
    e = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    # fixed-dim contract (r17): off-width vectors excluded from the
    # whole IVF surface — index, assignment, and probe queries alike
    en = e.filter(F.size("embedding") == 64).select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    # nrm > 0 filters mirror _ASSIGN_CTES' zero-norm guards (r16) —
    # see that constant's comment.
    cent = en.filter((F.col("vec_id") < 16) & (F.col("nrm") > 0)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    packed = pack_centroids(cent, cid="centroid_id", emb="c_emb", nrm="c_nrm")
    best = F.array_min(
        scored_centroids(F.col("_cents"), F.col("embedding"), F.col("nrm"))
    )
    assign = (
        en.filter(F.col("nrm") > 0)
        .crossJoin(F.broadcast(packed))
        .withColumn("_best", best)
        .select(
            "vec_id",
            F.col("_best")["cid"].alias("centroid_id"),
            (-F.col("_best")["neg_cos"]).alias("cos_raw"),
        )
        # Fail EMPTY like the oracle's CROSS JOIN, not open: with no
        # vec_id<16 centroids the packed row holds an empty array and
        # array_min yields NULL — the old plan then emitted every
        # vector with centroid_id=NULL while the oracle emits zero
        # rows (round-15 review; fires if embeddings are regenerated
        # with ids not starting at 0).
        .filter(F.col("centroid_id").isNotNull())
    )
    return en, cent, assign


@register(
    "sim_ann_ivf",
    oracle=(
        f"WITH {_ASSIGN_CTES} "
        "SELECT vec_id, centroid_id, CAST(round(CAST(CAST(cos_raw AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS cos_sim FROM assign"
    ),
    doc=(
        "IVF coarse quantization: 16 deterministic centroids (vec_id < "
        "16 stands in for k-means — same plan shape), every vector "
        "assigned to its argmax-cosine centroid via broadcast join + "
        "row_number. The assignment column is the ANN partition key: at "
        "100 TB the corpus is written bucketed by centroid_id so probes "
        "touch only nprobe buckets."
    ),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, assign = _ivf_parts(spark, sf_dir)
    return assign.select(
        "vec_id", "centroid_id", F.round("cos_raw", 4).alias("cos_sim")
    )


@register(
    "sim_ann_ivf_search",
    oracle=(
        f"WITH {_ASSIGN_CTES}, "
        "probes AS (SELECT query_id, centroid_id FROM ("
        "SELECT q.vec_id AS query_id, c.centroid_id, row_number() OVER ("
        "PARTITION BY q.vec_id ORDER BY "
        f"{_dot_sql('q.embedding', 'c.c_emb')} / (q.nrm * c.c_nrm) DESC, c.centroid_id) AS prn "
        "FROM e q CROSS JOIN cent c WHERE q.vec_id < 10 AND q.nrm > 0 "
        "AND len(q.embedding) = 64) WHERE prn <= 4), "
        "cand AS (SELECT p.query_id, a.vec_id AS neighbor_id FROM probes p "
        "JOIN assign a ON a.centroid_id = p.centroid_id "
        "WHERE a.vec_id <> p.query_id), "
        "scored AS (SELECT c.query_id, c.neighbor_id, "
        f"{_dot_sql('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cos_raw "
        "FROM cand c JOIN e q ON q.vec_id = c.query_id "
        "JOIN e n ON n.vec_id = c.neighbor_id) "
        "SELECT query_id, neighbor_id, CAST(round(CAST(CAST(cos_raw AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS cos_sim, rank FROM ("
        "SELECT query_id, neighbor_id, cos_raw, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank "
        "FROM scored) WHERE rank <= 5"
    ),
    doc=(
        "IVF probe search (nprobe=4, k=5): per query, rank centroids, "
        "take candidates from the 4 nearest inverted lists only, then "
        "exact-rescore and top-k. Versus brute force this touches "
        "nprobe/16 of the corpus — the standard recall/throughput dial. "
        "Plan: ONE corpus scan. Each corpus vector computes its own "
        "centroid map-side (packed-centroid argmax), then broadcast-"
        "joins the 40-row (query × nprobe) probe table — carrying the "
        "query embedding in-row — so rescoring needs no join back to "
        "the corpus. Only the ≤(nprobe/16)·|corpus|·|queries| scored "
        "candidates reach the final top-k window. At 100 TB the "
        "centroid join key makes candidate generation bucket-local; "
        "sim_ann_ivf_partitioned is the same search against a "
        "physically partitioned index."
    ),
)
def sim_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    en, cent, _ = _ivf_parts(spark, sf_dir)
    q = en.filter((F.col("vec_id") < 10) & (F.col("nrm") > 0))
    # top-nprobe centroids per query, map-side: sort the in-row scored
    # array and slice — no shuffle, no window stage. The query
    # embedding rides along so rescoring never rejoins the corpus.
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
        .select("query_id", "q_emb", "q_nrm", F.col("_p")["cid"].alias("centroid_id"))
    )
    # One corpus pass: in-row centroid assignment, then a broadcast
    # hash join against the tiny probe table (explicit hint — the
    # latency profile runs AQE-off, where an unhinted tiny side would
    # plan as a full sort-merge shuffle).
    corpus = en.filter(F.col("nrm") > 0).crossJoin(F.broadcast(packed)).select(
        "vec_id",
        "embedding",
        "nrm",
        F.array_min(
            scored_centroids(F.col("_cents"), F.col("embedding"), F.col("nrm"))
        )["cid"].alias("centroid_id"),
    )
    cos = dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        corpus.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


@register(
    "sim_ann_ivf_partitioned",
    oracle=(
        f"WITH {_ASSIGN_CTES}, "
        "probes AS (SELECT query_id, centroid_id FROM ("
        "SELECT q.vec_id AS query_id, c.centroid_id, row_number() OVER ("
        "PARTITION BY q.vec_id ORDER BY "
        f"{_dot_sql('q.embedding', 'c.c_emb')} / (q.nrm * c.c_nrm) DESC, c.centroid_id) AS prn "
        "FROM e q CROSS JOIN cent c WHERE q.vec_id < 10 AND q.nrm > 0 "
        "AND len(q.embedding) = 64) WHERE prn <= 4), "
        "cand AS (SELECT p.query_id, a.vec_id AS neighbor_id FROM probes p "
        "JOIN assign a ON a.centroid_id = p.centroid_id "
        "WHERE a.vec_id <> p.query_id), "
        "scored AS (SELECT c.query_id, c.neighbor_id, "
        f"{_dot_sql('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cos_raw "
        "FROM cand c JOIN e q ON q.vec_id = c.query_id "
        "JOIN e n ON n.vec_id = c.neighbor_id) "
        "SELECT query_id, neighbor_id, CAST(round(CAST(CAST(cos_raw AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS cos_sim, rank FROM ("
        "SELECT query_id, neighbor_id, cos_raw, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank "
        "FROM scored) WHERE rank <= 5"
    ),
    doc=(
        "PHYSICAL IVF index + partition-pruned probe search — the "
        "100 TB layout the other sim_ann_* docstrings promise, made "
        "real: the corpus is WRITTEN to parquet partitioned by "
        "centroid_id, the probe set (tiny, nprobe×queries ≤ 40 rows) "
        "is collected to the driver exactly like an index lookup, and "
        "the candidate scan carries a literal centroid_id IN-filter — "
        "the plan's PartitionFilters prove only nprobe/16 of the "
        "corpus files are read (pinned by the plan-shape test). "
        "Results are identical to sim_ann_ivf_search (same oracle). "
        "The bounded probe-collect is index METADATA, not data — the "
        "corpus itself never reaches the driver."
    ),
)
def sim_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re
    import shutil

    en, cent, assign = _ivf_parts(spark, sf_dir)
    sf_tag = re.sub(r"[^0-9a-zA-Z.]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    from duckdb_data_eng_proj_spark.io.scratch import scratch_dir
    idx_dir = scratch_dir(f"ivf_index_{sf_tag}")
    shutil.rmtree(idx_dir, ignore_errors=True)
    (
        assign.select("vec_id", "centroid_id")
        .join(en, "vec_id")
        .select("vec_id", "embedding", "nrm", "centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(idx_dir)
    )
    idx = spark.read.parquet(idx_dir)

    q = en.filter((F.col("vec_id") < 10) & (F.col("nrm") > 0))
    packed = pack_centroids(cent, cid="centroid_id", emb="c_emb", nrm="c_nrm")
    probes = (
        q.crossJoin(F.broadcast(packed))
        .select(
            F.col("vec_id").alias("query_id"),
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
        .select("query_id", F.col("_p")["cid"].alias("centroid_id"))
    )
    probe_rows = probes.collect()  # bounded: nprobe × |queries| ≤ 40
    probe_cents = sorted({r.centroid_id for r in probe_rows})
    probe_df = spark.createDataFrame(
        [(r.query_id, r.centroid_id) for r in probe_rows],
        "query_id: long, centroid_id: long",
    )

    # Candidates carry their OWN embedding/nrm straight from the
    # pruned index read — the columns the index stores precisely for
    # rescoring. The earlier form joined neighbor vectors back from
    # the raw embeddings parquet (a full-corpus scan defeating the
    # PartitionFilters contract, with the stored vectors never read)
    # and broadcast the UNFILTERED en as the query side — corpus-sized
    # at 100 TB; q (vec_id < 10) is the bounded side (round-15 review).
    cand = (
        idx.filter(F.col("centroid_id").isin(probe_cents))  # partition pruning
        .join(F.broadcast(probe_df), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("n_emb"),
            F.col("nrm").alias("n_nrm"),
        )
    )
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = dot(F.col("q_emb"), F.col("n_emb")) / (F.col("q_nrm") * F.col("n_nrm"))
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id", "neighbor_id", cos.alias("cos_raw")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


def _simhash_chunk(col: str, c: int):
    """16-bit chunk c (0-3) of a 16-hex-char simhash, as int."""
    return F.conv(F.substring(F.col(col), 4 * c + 1, 4), 16, 10).cast("int")


@register(
    "dedup_simhash_pairs",
    oracle=(
        f"WITH sh AS ({_simhash_oracle()}), "
        "ch AS (SELECT doc_id, c, substr(simhash, 4*c + 1, 4) AS v "
        "FROM sh, range(4) t(c)), "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
        "FROM ch x JOIN ch y ON x.c = y.c AND x.v = y.v "
        "AND x.doc_id < y.doc_id) "
        "SELECT c.doc_a, c.doc_b, "
        + " + ".join(
            f"bit_count(xor(CAST('0x' || substr(a.simhash, {4 * c + 1}, 4) AS BIGINT), "
            f"CAST('0x' || substr(b.simhash, {4 * c + 1}, 4) AS BIGINT)))"
            for c in range(4)
        )
        + " AS hamming_dist "
        "FROM cand c JOIN sh a ON a.doc_id = c.doc_a "
        "JOIN sh b ON b.doc_id = c.doc_b "
        "WHERE "
        + " + ".join(
            f"bit_count(xor(CAST('0x' || substr(a.simhash, {4 * c + 1}, 4) AS BIGINT), "
            f"CAST('0x' || substr(b.simhash, {4 * c + 1}, 4) AS BIGINT)))"
            for c in range(4)
        )
        + " <= 3"
    ),
    doc=(
        "SimHash near-dup pairs within Hamming distance 3 via pigeonhole "
        "bucketing: split the 64-bit signature into 4 x 16-bit chunks — "
        "any pair within distance 3 shares >= 1 exact chunk, so the "
        "candidate join is an equi-join on (chunk_idx, chunk_value), "
        "never all-pairs. Exact distance = sum of per-chunk "
        "bit_count(xor). The standard web-scale simhash dedup plan "
        "(Manku et al., WWW'07 shape)."
    ),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the simhash table ONCE: it feeds both self-join
    # sides AND the a/b verification joins, which partition on
    # different keys, so ReuseExchange cannot dedupe them and the
    # explode + 64-column conditional aggregation would run up to 4x
    # (the dedup_fuzzy_edit checkpoint pattern; round-15 review).
    sh = _simhash_select(spark, sf_dir).localCheckpoint()
    chunks = sh.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.substring("simhash", 4 * c + 1, 4) for c in range(4)])
        ).alias("c", "v"),
    )
    x, y = chunks.alias("x"), chunks.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.c") == F.col("y.c"))
            & (F.col("x.v") == F.col("y.v"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    dist = sum(
        [
            F.bit_count(
                _simhash_chunk("sh_a", c).bitwiseXOR(_simhash_chunk("sh_b", c))
            )
            for c in range(4)
        ],
        start=F.lit(0),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("hamming_dist", dist)
        .filter(F.col("hamming_dist") <= 3)
        .select("doc_a", "doc_b", "hamming_dist")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination + PII scrubbing (training-corpus hygiene)
# ---------------------------------------------------------------------------


@register(
    "ext_decontaminate",
    oracle=(
        f"WITH {_TOKS_CTE}, "
        "grams AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g "
        "FROM toks, unnest(generate_series(1, greatest(len(tk)-4, 0))) AS t(i)), "
        "eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0), "
        "hits AS (SELECT DISTINCT grams.doc_id FROM grams "
        "JOIN eval_grams USING (g) WHERE grams.doc_id % 50 <> 0) "
        "SELECT d.doc_id, d.n_chars FROM documents d "
        "WHERE d.doc_id % 50 <> 0 "
        "AND d.doc_id NOT IN (SELECT doc_id FROM hits)"
    ),
    doc=(
        "Benchmark decontamination — the step every LLM training "
        "pipeline runs before a corpus ships: drop any training "
        "document sharing a 5-token n-gram with the held-out eval set "
        "(here: doc_id % 50 = 0 stands in for the benchmark suite). "
        "Plan shape at 100 TB: eval n-grams are bounded (benchmarks "
        "are small) -> broadcast; training n-grams stream through a "
        "map-side broadcast hash join with NO shuffle of the corpus. "
        "r5 rework of the r4 3.1x gap (VERDICT r4 #4): the eval "
        "branch filters BEFORE tokenizing (only eval docs pay the "
        "n-gram stage), the training branch is repartitioned to full "
        "parallelism (the corpus arrives as one parquet split at toy "
        "scale; the n-gram explode was the single most expensive "
        "stage, 0.43s -> 0.20s at sf0.1 measured). The contaminated-"
        "id .distinct() was dropped in r5 (an anti-join dedupes its "
        "build side) but REINSTATED with the r13 eager-checkpoint "
        "rework: the hit list is now materialized and broadcast as a "
        "value, so shrinking it to unique ids before the checkpoint "
        "pays for its exchange. Broadcast-build sizes stay bounded: "
        "eval grams by the benchmark suite, hit ids by contaminated "
        "docs x matched grams per doc."
    ),
)
def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # token arrays materialized behind projection barriers: inlined,
    # the tokenizer re-evaluates inside the n-gram lambda per position
    # (6× the stage cost at sf0.1, measured)
    eval_grams = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(tokens(F.col("text")).alias("tk"))
        .select(F.explode(word_ngrams(F.col("tk"), 5)).alias("g"))
        .distinct()
    )
    train_grams = (
        ensure_parallelism(
            d.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text")
        )
        .select("doc_id", tokens(F.col("text")).alias("tk"))
        .select("doc_id", F.explode(word_ngrams(F.col("tk"), 5)).alias("g"))
    )
    # EAGER checkpoint: the hit list's subtree is the corpus n-gram
    # scan joined against the eval grams — that pipeline must run as a
    # normal job, not inside the anti-join broadcast's future
    # (audit_broadcast_subtrees r13, the dedup_lsh_tune class). The
    # VALUE stays broadcast-appropriate: contaminated doc_ids are a
    # tiny fraction of the corpus by construction.
    hits = (
        train_grams.join(F.broadcast(eval_grams), "g")
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return (
        d.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(hits), "doc_id", "left_anti")
        .select("doc_id", "n_chars")
    )


# Cross-engine-safe redaction patterns: character classes + bounded
# quantifiers only (identical semantics in Java regex and DuckDB's RE2).
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "txt_pii_scrub",
    oracle=(
        "WITH aug AS (SELECT doc_id, text "
        "|| CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || doc_id "
        "|| '@example.org' ELSE '' END "
        "|| CASE WHEN doc_id % 2 = 0 THEN ' call +1-555-' "
        "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS body "
        "FROM documents) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(body, '{_EMAIL_RE}')) AS INT) AS n_emails, "
        f"CAST(len(regexp_extract_all(body, '\\+1-555-[0-9]{{4}}')) AS INT) "
        "AS n_phones, "
        f"regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'\\+1-555-[0-9]{{4}}', '<PHONE>', 'g') AS scrubbed "
        "FROM aug"
    ),
    doc=(
        "PII redaction over the corpus: scrub emails and phone numbers "
        "(synthetic PII is injected deterministically per doc_id so the "
        "redaction provably fires — the raw word-salad text contains "
        "none). Patterns restricted to the Java-regex/RE2 common "
        "subset; Spark regexp_replace replaces ALL matches by default "
        "where DuckDB needs the 'g' flag (SURVEY G4). Pure narrow map "
        "stage — at 100 TB this fuses into the same scan as the "
        "quality/language filters (pipe_corpus_clean pattern)."
    ),
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.org"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    aug = d.select("doc_id", body.alias("body"))
    return aug.select(
        "doc_id",
        F.regexp_count("body", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("body", F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("body", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# corpus assembly: sequence packing, domain mixing, epoch shuffle
# ---------------------------------------------------------------------------

_SEQ_BUDGET = 256  # tokens per packed training sequence


@register(
    "ext_seq_pack",
    oracle=(
        f"WITH toks AS (SELECT doc_id, source, len({_TOK}) AS n_tok "
        "FROM documents), "
        "c AS (SELECT doc_id, source, n_tok, "
        "SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum "
        "FROM toks) "
        f"SELECT source, CAST((cum - n_tok) // {_SEQ_BUDGET} AS BIGINT) "
        "AS seq_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) "
        "AS seq_tokens FROM c GROUP BY source, seq_id"
    ),
    doc=(
        "Sequence packing — concat-then-chunk assignment of documents "
        "into fixed-token-budget training sequences (the step between "
        "a clean corpus and a dataloader): per packing stream (source), "
        "documents in deterministic doc_id order get a running token "
        "cumsum; a document belongs to the sequence its first token "
        "lands in (floor((cum - n_tok) / budget)). One shuffle keyed "
        "by the stream + a linear window pass; at 100 TB the stream "
        "key is salted into bounded shards so no single window "
        "partition exceeds executor memory. Integer division on both "
        "engines (values non-negative, so div ≡ floor-div)."
    ),
)
def ext_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "cum", F.sum("n_tok").over(w)
    )
    return (
        c.withColumn("seq_id", F.expr(f"(cum - n_tok) div {_SEQ_BUDGET}"))
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("seq_tokens"),
        )
    )


@register(
    "ext_domain_mix",
    oracle=(
        "WITH b AS (SELECT doc_id, source, "
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 "
        "AS bucket, "
        "CASE TRY_CAST(substr(source, 4) AS INT) % 3 "
        "WHEN 0 THEN 100 WHEN 1 THEN 50 ELSE 25 END AS rate "
        "FROM documents) "
        "SELECT source, COUNT(*) AS n_kept FROM b WHERE bucket < rate "
        "GROUP BY source"
    ),
    doc=(
        "Domain mixing — per-source sampling rates (100%/50%/25% by "
        "source index mod 3, standing in for a mixture-weights config) "
        "applied via the same leakage-safe md5 document bucket as "
        "ext_split_train: reproducible across engines, runs, and "
        "repartitions, and a document's keep/drop decision never "
        "depends on partitioning. Filter + one-shuffle groupBy; at "
        "100 TB the filter fuses into the corpus scan (no "
        "materialization of the dropped majority)."
    ),
)
def ext_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = doc_bucket100(F.col("doc_id"))
    rate = (
        F.when(F.expr("TRY_CAST(substring(source, 4) AS INT) % 3") == 0, 100)
        .when(F.expr("TRY_CAST(substring(source, 4) AS INT) % 3") == 1, 50)
        .otherwise(25)
    )
    return (
        d.select("doc_id", "source", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )


@register(
    "ext_corpus_shuffle",
    oracle=(
        "SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS shuffle_key "
        "FROM documents ORDER BY shuffle_key LIMIT 100"
    ),
    doc=(
        "Epoch shuffle — deterministic global training order via a "
        "salted md5 sort key (salt = epoch id, so every epoch is a "
        "fresh but reproducible permutation). The head-100 slice keeps "
        "the oracle exact while forcing a REAL distributed sort: Spark "
        "plans TakeOrderedAndProject (per-partition top-k + merge — no "
        "single-node sort); the full-corpus variant at 100 TB is the "
        "same ORDER BY written out, which Spark executes with a "
        "range-partitioned sort, and the key is computed in the scan "
        "stage (narrow map)."
    ),
)
def ext_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0")))
    return (
        d.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(100)
    )


_KMV_K = 64
_KMV_SCALE = float(1 << 60)  # h is a uniform 60-bit hash → h/2^60 ~ U(0,1)


@register(
    "ext_sketch_kmv",
    oracle=(
        "WITH pairs AS (SELECT DISTINCT event_type, "
        "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) "
        "AS h FROM events), "
        "topk AS (SELECT event_type, h FROM ("
        "SELECT event_type, h, row_number() OVER ("
        "PARTITION BY event_type ORDER BY h) AS rn FROM pairs) "
        f"WHERE rn <= {_KMV_K}), "
        "agg AS (SELECT event_type, MAX(h) AS h_k, COUNT(*) AS k_eff "
        "FROM topk GROUP BY event_type) "
        "SELECT event_type, CAST(k_eff AS INT) AS k_eff, "
        f"CAST(round(CAST(CAST(CASE WHEN k_eff < {_KMV_K} THEN CAST(k_eff AS DOUBLE) "
        f"ELSE {_KMV_K - 1}.0 * {_KMV_SCALE!r} / h_k END "
        "AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS est_distinct "
        "FROM agg"
    ),
    doc=(
        "KMV (k-minimum-values) cardinality sketch: distinct users per "
        "event_type estimated from the k=64 smallest md5 hash values — "
        "estimate = (k-1)/u_k where u_k is the kth-smallest hash "
        "normalized to (0,1); groups smaller than k fall back to their "
        "exact count. Unlike HLL the whole computation is deterministic "
        "and engine-independent (same md5, same arithmetic), so the "
        "DuckDB oracle hash-matches EXACTLY — a sketch with a hard "
        "correctness gate. Scale shape: the rank<=k filter plans as "
        "WindowGroupLimit, so each partition forwards only its local "
        "top-k BEFORE the shuffle — exactly the KMV merge operation; "
        "the shuffle carries O(k x n_groups) rows regardless of corpus "
        "size. Estimator error ~ 1/sqrt(k-2) ~ 13%, pinned by a law "
        "test (tests/test_property_laws.py)."
    ),
)
def ext_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    h60 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    pairs = e.select("event_type", h60.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    topk = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    agg = topk.groupBy("event_type").agg(
        F.max("h").alias("h_k"), F.count("*").alias("k_eff")
    )
    est = F.when(
        F.col("k_eff") < _KMV_K, F.col("k_eff").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SCALE) / F.col("h_k")
    )
    return agg.select(
        "event_type",
        F.col("k_eff").cast("int").alias("k_eff"),
        F.round(est, 2).alias("est_distinct"),
    )


@register(
    "txt_rep_signals",
    oracle=(
        f"WITH {_TOKS_CTE}, "
        "base AS (SELECT doc_id, len(tk) AS n, "
        "len(list_distinct(tk)) AS nu, tk FROM toks), "
        "grams AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g "
        "FROM base, unnest(generate_series(1, greatest(n - 1, 0))) AS t(i)), "
        "gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g), "
        "top AS (SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) "
        "AS total FROM gc GROUP BY doc_id) "
        "SELECT b.doc_id, "
        "CAST(round(CAST(CAST(1.0 - CAST(b.nu AS DOUBLE) / nullif(b.n, 0) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) "
        "AS dup_token_frac, "
        "CAST(round(CAST(CAST(CAST(t.top_c AS DOUBLE) / nullif(t.total, 0) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) "
        "AS top_bigram_frac "
        "FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id"
    ),
    doc=(
        "Repetition signals (the Gopher/RefinedWeb quality rules for "
        "catching degenerate generated text): duplicate-token fraction "
        "(1 - distinct/total) and most-frequent-bigram fraction. The "
        "token signal is a pure map; the bigram mode needs one "
        "(doc_id, gram) count shuffle + one per-doc max — both keyed "
        "by doc_id so they stay partition-local after the first "
        "exchange. Filters on these fractions slot straight into "
        "pipe_corpus_clean's cheapest-first chain."
    ),
)
def txt_rep_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens(F.col("text")).alias("tk")).select(
        "doc_id",
        "tk",
        F.size("tk").alias("n"),
        F.size(F.array_distinct("tk")).alias("nu"),
    )
    grams = base.select(
        "doc_id", F.explode(word_ngrams(F.col("tk"), 2)).alias("g")
    )
    gc = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    top = gc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("total")
    )
    dup_frac = 1.0 - F.col("nu").cast("double") / F.nullif(
        F.col("n"), F.lit(0)
    )
    top_frac = F.col("top_c").cast("double") / F.nullif(
        F.col("total"), F.lit(0)
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.round(dup_frac, 4).alias("dup_token_frac"),
            F.round(top_frac, 4).alias("top_bigram_frac"),
        )
    )


# Random-hyperplane LSH for embeddings (the vector twin of text
# SimHash, Charikar 2002): plane components are deterministic ±1 from
# md5(plane:dim) parity, so both engines build the identical planes.
_N_PLANES = 8
_EMB_DIM = 64


def _hyperplanes() -> list[list[float]]:
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) % 2
            else -1.0
            for d in range(_EMB_DIM)
        ]
        for p in range(_N_PLANES)
    ]


def _hp_sig_sql() -> str:
    planes = _hyperplanes()
    bits = []
    for p, plane in enumerate(planes):
        lit = "[" + ",".join(f"{v:.1f}" for v in plane) + "]"
        bits.append(
            f"(CASE WHEN {_dot_sql('embedding', lit)} >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(bits)


def _hp_sig_cte() -> str:
    """``sig AS (...)`` — THE shared hyperplane-sketch table for the
    whole family (sim_lsh_hyperplane, sim_range_search,
    sim_knn_bucket_join, sim_ann_recall_eval; r16 consolidation of
    four inline copies). Zero-norm vectors are excluded (dot(e,e) > 0
    ⟺ nrm > 0): their cosine is undefined and Spark's ANSI mode
    raises on the divide — the r16 zero-norm rule, mirrored by
    ``_hp_sig_df``'s filter."""
    return (
        f"sig AS (SELECT vec_id, embedding, {_hp_sig_sql()} AS sig, "
        f"sqrt({_dot_sql('embedding', 'embedding')}) AS nrm "
        f"FROM embeddings WHERE {_dot_sql('embedding', 'embedding')} > 0)"
    )


def _hp_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_hp_sig_cte``: (vec_id, embedding, sig, nrm),
    zero-norm vectors excluded. The sig bits come from the hardened
    shared builder (operators/vectors.hyperplane_sig — plane literals
    sliced to the embedding's length, the r15 short-embedding fix the
    inline copies had missed)."""
    from duckdb_data_eng_proj_spark.operators.vectors import hyperplane_sig

    e = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    return e.select(
        "vec_id",
        "embedding",
        hyperplane_sig(F.col("embedding"), _hyperplanes()).alias("sig"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    ).filter(F.col("nrm") > 0)


@register(
    "sim_lsh_hyperplane",
    oracle=(
        f"WITH {_hp_sig_cte()} "
        "SELECT a.sig, a.vec_id AS vec_a, b.vec_id AS vec_b, "
        f"CAST(round(CAST(CAST({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) "
        "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) "
        "AS cos_sim "
        "FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id "
        f"WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.2"
    ),
    doc=(
        "Random-hyperplane LSH over embeddings (Charikar SimHash for "
        "vectors): 8 deterministic ±1 hyperplanes give an 8-bit sketch "
        "whose collision probability rises with cosine similarity; "
        "candidate pairs come from a bucket EQUI-join on the sketch "
        "(never all-pairs), then exact-rescore. Both engines build "
        "bit-identical sketches: plane components are md5-parity ±1 "
        "and the dot folds are order-pinned, so the >=0 sign decision "
        "is exact cross-engine. This is the no-natural-bucket "
        "complement to dedup_embed_cosine's label bucketing; at 100 TB "
        "add bands (multiple independent sketches) for recall."
    ),
)
def sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared hardened sketch table (_hp_sig_df: sliced plane literals,
    # zero-norm vectors excluded — see _hp_sig_cte's docstring).
    en = _hp_sig_df(spark, sf_dir)
    a, b = en.alias("a"), en.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.2)
        .select(
            F.col("a.sig").alias("sig"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cos_sim"),
        )
    )


@register(
    "ext_ngram_lm",
    oracle=(
        f"WITH {_TOKS_CTE}, "
        "pairs AS (SELECT tk[i] AS w1, tk[i+1] AS w2 FROM toks, "
        "unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS t(i)), "
        "bc AS (SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY w1, w2), "
        "uc AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS total FROM bc GROUP BY w1) "
        "SELECT b.w1, b.w2, b.n, "
        "CAST(round(CAST(CAST(CAST(b.n AS DOUBLE) / u.total AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS p_cond "
        "FROM bc b JOIN uc u ON b.w1 = u.w1"
    ),
    doc=(
        "Bigram language-model counts: P(w2|w1) = count(w1,w2) / "
        "count(w1·) — the n-gram LM primitive behind perplexity "
        "filtering and KenLM-style corpus scoring. The continuation "
        "total is the sum of the word's bigram counts (consistent "
        "denominator, no separate unigram pass). Token pairs come from "
        "arrays_zip of two slices behind the projection barrier; two "
        "shuffles (bigram count keyed by pair with map-side combine, "
        "then the w1 total) — both keys uniform at corpus scale."
    ),
)
def ext_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = d.select(tokens(F.col("text")).alias("tk")).filter(F.size("tk") >= 2)
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    uc = bc.groupBy("w1").agg(F.sum("n").alias("total"))
    return bc.join(uc, "w1").select(
        "w1",
        "w2",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("p_cond"),
    )


@register(
    "dedup_fuzzy_edit",
    oracle=(
        f"{_LSH_PRELUDE}, "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
        "FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket "
        "AND x.doc_id < y.doc_id) "
        "SELECT c.doc_a, c.doc_b, "
        "CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist "
        "FROM cand c JOIN documents a ON a.doc_id = c.doc_a "
        "JOIN documents b ON b.doc_id = c.doc_b "
        "WHERE levenshtein(a.text, b.text) * 5 <= "
        "greatest(length(a.text), length(b.text))"
    ),
    doc=(
        "Edit-distance-verified fuzzy dedup — the third verification "
        "family next to Jaccard (dedup_ngram_jaccard) and cosine "
        "(dedup_embed_cosine): LSH band buckets generate candidates "
        "(never all-pairs), then Levenshtein on the raw text confirms "
        "pairs within 20% relative edit distance — the right verifier "
        "for OCR noise and boilerplate-variation duplicates that "
        "shingle sets over-merge. Levenshtein is O(len²) per pair, so "
        "it only ever runs on the LSH-bounded candidate set; JVM "
        "built-in on both engines. The 20%% threshold is exact integer "
        "arithmetic (dist*5 <= max_len) on BOTH engines: DuckDB "
        "CAST(x AS INT) rounds to nearest while Spark cast truncates, "
        "so the r4 fractional-cap spelling diverged by 1 whenever "
        "0.2*max_len was fractional (ADVICE r4, medium) — dist*5 <= "
        "max_len == dist <= floor(max_len/5), identical to the Spark "
        "truncation semantics, zero boundary drift."
    ),
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = bucket_pairs(_lsh_bands_df(spark, sf_dir).localCheckpoint())
    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    dist = F.levenshtein(F.col("text_a"), F.col("text_b"))
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(dist * F.lit(5) <= max_len)
        .select("doc_a", "doc_b", dist.cast("int").alias("edit_dist"))
    )
