"""Round-5 training-data operators: containment dedup, LM scoring,
corpus vocabulary/boilerplate mining, and a batch k-NN bucket join.

These extend the r1-r4 training suite (queries/training.py) with the
remaining standard stages of a pretraining-corpus pipeline:

- containment near-dup (overlap coefficient over shingle sets) — the
  verifier RefinedWeb-style pipelines use when one document *embeds*
  another (quote pages, aggregators) and Jaccard under-scores the pair;
- LM-probability document scoring — the deterministic core of a
  perplexity filter (avg conditional bigram probability; true
  perplexity needs ln(), whose last-ulp behavior differs between JVM
  and C++ libm — the probability form is exactly cross-engine);
- global token frequency top-k and boilerplate-phrase mining — vocab
  and template discovery over the corpus;
- k-NN join over hyperplane-LSH buckets — the batch form of ANN
  search: every vector gets its top-k same-bucket neighbors.

All five are oracle-checked (hash-grade) like the rest of the
registry. Reference parity: the reference project (pipeline.py,
queries.sql) has no text/vector operators — this is north-star
surface over the driver's documents/embeddings tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.textops import distinct_ngrams, tokens
from duckdb_data_eng_proj_spark.operators.vectors import dot_sql
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import (
    _hp_sig_cte,
    _TOK,
    _TOKS_CTE,
)

# distinct word trigram sets (the containment/boilerplate shingle space)
_TG = (
    "CASE WHEN len(tk) >= 3 THEN list_distinct(list_transform(range(len(tk) - 2), "
    "i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) ELSE []::VARCHAR[] END"
)
_TG_CTE = f"tg AS (SELECT doc_id, {_TG} AS tg FROM toks)"

# Stop-shingle document-frequency cutoff: postings longer than this are
# dropped from the inverted index — bounds the quadratic hot-key (the
# same guard dedup_ngram_jaccard carries, VERDICT r2 #7).
_TG_DF_CUTOFF = 500

_CONTAIN_THR = 0.6


def _tg_sets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    return toks.select("doc_id", distinct_ngrams(F.col("tk"), 3).alias("tg"))


@register(
    "dedup_containment",
    oracle=(
        f"WITH {_TOKS_CTE}, {_TG_CTE}, "
        "inv0 AS (SELECT doc_id, unnest(tg) AS g FROM tg), "
        f"keep AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= {_TG_DF_CUTOFF}), "
        "inv AS (SELECT doc_id, g FROM inv0 JOIN keep USING (g)), "
        "sz AS (SELECT doc_id, COUNT(*) AS sz FROM inv GROUP BY doc_id), "
        "shared AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "COUNT(*) AS n_common FROM inv x JOIN inv y ON x.g = y.g "
        "AND x.doc_id < y.doc_id GROUP BY 1, 2) "
        "SELECT s.doc_a, s.doc_b, s.n_common, "
        "CAST(floor(s.n_common * 10000.0 / least(a.sz, b.sz)) AS BIGINT) "
        "AS containment_bp "
        "FROM shared s JOIN sz a ON a.doc_id = s.doc_a "
        "JOIN sz b ON b.doc_id = s.doc_b "
        f"WHERE CAST(s.n_common AS DOUBLE) / least(a.sz, b.sz) >= {_CONTAIN_THR}"
    ),
    doc=(
        "Containment near-dup (overlap coefficient |A∩B| / min(|A|,"
        "|B|) over distinct word-trigram sets): catches embedded "
        "duplicates — one doc quoting or wrapping another — that "
        "Jaccard under-scores because the union is dominated by the "
        "larger doc. Same scalable shape as dedup_ngram_jaccard: "
        "inverted-index self-join keyed by shingle (never all-pairs), "
        "per-pair counts, sizes joined back; the document-frequency "
        "cutoff drops postings >500 docs so no hot shingle can go "
        "quadratic. Sizes are counted in the SAME filtered shingle "
        "space as the intersection so the coefficient stays a true "
        "ratio. Verbatim-duplicate collapse (VERDICT r5 #3): docs "
        "with identical filtered shingle sets are grouped by a set "
        "digest BEFORE the self-join, the index join runs over one "
        "representative per group, and pairs re-expand to members "
        "afterwards (intra-group pairs are containment=1 by "
        "definition, cross-group pairs inherit the representative "
        "pair's n_common — both exact, since containment depends "
        "only on the two shingle sets). The DF cutoff is still "
        "computed over the FULL corpus, duplicates included, so the "
        "filtered space is unchanged. At 100 TB the shuffle is keyed "
        "by shingle over unique contents only; the duplicate "
        "explosion is confined to the final output-sized expansion."
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = _tg_sets_df(spark, sf_dir)
    inv0 = sets.select("doc_id", F.explode("tg").alias("g"))
    # DF cutoff over the FULL corpus (duplicate multiplicity counts),
    # so the filtered shingle space is identical to the oracle's.
    # r21 (guide §2.4 "two operations keyed the same way share one
    # exchange"): the cutoff is a COUNT OVER (PARTITION BY g) window
    # filter instead of groupBy(g)+join-back — the tokenize+explode
    # lineage evaluates ONCE (the old shape ran it once under the
    # count aggregate and once under the join probe) and the count
    # and the filter share a single g-keyed exchange where the old
    # shape paid the aggregate exchange plus the join. Same filtered
    # index exactly (postings with df > cutoff drop either way);
    # interleaved fn+force A/B at sf0.1: 3.63 -> 2.88 s mean,
    # winning every lap, exceptAll both ways empty.
    from pyspark.sql import Window as _W

    inv = (
        inv0.withColumn("_df", F.count("*").over(_W.partitionBy("g")))
        .filter(F.col("_df") <= _TG_DF_CUTOFF)
        .drop("_df")
        # Materialize the filtered index ONCE — it feeds the digest
        # pass and both self-join sides; without this the
        # explode+DF-filter lineage re-executes per consumer
        # (15 exchanges -> 7, measured r5).
        .localCheckpoint()
    )

    # Verbatim-duplicate collapse: containment depends only on the two
    # filtered shingle SETS, so docs with identical sets are one
    # logical content. Digest each doc's sorted filtered set (0x1f
    # can't occur inside whitespace-split tokens), pick min(doc_id) as
    # the group representative, and run the quadratic-prone index
    # self-join over representatives only.
    # members/groups feed five consumers (rep filter, sizes on both
    # join sides, both expansion sides) — checkpoint them like the
    # index itself so the digest aggregation runs once, not per
    # consumer, and downstream joins see real size stats.
    members = inv.groupBy("doc_id").agg(
        F.md5(F.concat_ws("\x1f", F.sort_array(F.collect_list("g")))).alias("gid"),
        F.count("*").alias("sz"),
    ).localCheckpoint()
    groups = members.groupBy("gid").agg(
        F.min("doc_id").alias("rep"),
        F.count("*").alias("n_members"),
        F.min("sz").alias("sz"),
    ).localCheckpoint()
    inv_rep = inv.join(
        groups.select(F.col("rep").alias("doc_id")), "doc_id"
    ).localCheckpoint()

    x, y = inv_rep.alias("x"), inv_rep.alias("y")
    shared = (
        x.join(
            y,
            (F.col("x.g") == F.col("y.g"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("rep_a"), F.col("y.doc_id").alias("rep_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    ga = groups.select(
        F.col("rep").alias("rep_a"), F.col("gid").alias("gid_a"),
        F.col("sz").alias("sz_a"),
    )
    gb = groups.select(
        F.col("rep").alias("rep_b"), F.col("gid").alias("gid_b"),
        F.col("sz").alias("sz_b"),
    )
    contain = F.col("n_common").cast("double") / F.least("sz_a", "sz_b")
    # Output in floor'd basis points, not round(ratio, 4): the ratio is
    # a small-denominator rational, and on exact 4dp half-boundaries
    # Spark's BigDecimal-string rounding and DuckDB's float-multiply
    # rounding disagree (the r4 dedup_fuzzy_edit / r5 txt_lm_doc_score
    # trap class). IEEE multiply+divide+floor is bit-identical.
    bp = F.floor(F.col("n_common") * 10000.0 / F.least("sz_a", "sz_b"))
    rep_pairs = (
        shared.join(ga, "rep_a")
        .join(gb, "rep_b")
        .filter(contain >= _CONTAIN_THR)
        .select(
            "gid_a", "gid_b", "n_common", bp.cast("bigint").alias("containment_bp")
        )
    )

    # Re-expand: cross-group pairs inherit the representative pair's
    # (n_common, containment_bp) — exact, the sets are identical per
    # member; member doc_ids interleave across groups, so re-order
    # each expanded pair by id.
    ma = members.select(F.col("gid").alias("gid_a"), F.col("doc_id").alias("id_a"))
    mb = members.select(F.col("gid").alias("gid_b"), F.col("doc_id").alias("id_b"))
    cross = (
        rep_pairs.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "n_common",
            "containment_bp",
        )
    )
    # Intra-group pairs: identical sets => n_common = sz, containment
    # exactly 1.0 (>= any sane threshold). Output-sized by necessity.
    dup_members = members.join(
        groups.filter(F.col("n_members") >= 2).select("gid"), "gid"
    )
    p, q = dup_members.alias("p"), dup_members.alias("q")
    intra = p.join(
        q,
        (F.col("p.gid") == F.col("q.gid"))
        & (F.col("p.doc_id") < F.col("q.doc_id")),
    ).select(
        F.col("p.doc_id").alias("doc_a"),
        F.col("q.doc_id").alias("doc_b"),
        F.col("p.sz").alias("n_common"),
        F.lit(10000).cast("bigint").alias("containment_bp"),
    )
    return cross.unionByName(intra)


@register(
    "txt_lm_doc_score",
    oracle=(
        f"WITH {_TOKS_CTE}, "
        "prs AS (SELECT doc_id, tk[i+1] AS w1, tk[i+2] AS w2 FROM toks, "
        "unnest(range(greatest(len(tk) - 1, 0))) AS u(i)), "
        "bc AS (SELECT w1, w2, COUNT(*) AS n FROM prs GROUP BY w1, w2), "
        "uc AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS total FROM bc GROUP BY w1), "
        "p AS (SELECT bc.w1, bc.w2, "
        "(bc.n * 1000000) // uc.total AS p_u "
        "FROM bc JOIN uc ON bc.w1 = uc.w1) "
        "SELECT d.doc_id, COUNT(*) AS n_bigrams, "
        "CAST(SUM(p.p_u) // COUNT(*) AS BIGINT) AS avg_pcond_u "
        "FROM prs d JOIN p ON d.w1 = p.w1 AND d.w2 = p.w2 "
        "GROUP BY d.doc_id"
    ),
    doc=(
        "LM-probability document scoring — the deterministic core of a "
        "perplexity quality filter: train the corpus bigram LM "
        "(ext_ngram_lm's table), then score each document by its mean "
        "conditional bigram probability. Production filters use "
        "perplexity = exp(-mean ln p); ln()'s last-ulp results differ "
        "between JVM and C++ libm (the exact cross-engine trap class "
        "pinned everywhere else in this repo), and the probability "
        "form is a strictly monotone transform of it per fixed length "
        "— identical ranking, exact hash parity. Determinism: "
        "probabilities live in fixed-point BIGINT micro-units "
        "(n*10⁶ // total — integer arithmetic end-to-end, the same "
        "pattern as the kmeans/PageRank fixpoints; an earlier "
        "round(sum/count, 6) draft diverged by 1e-6 on a half-"
        "boundary doc because Spark rounds via BigDecimal string "
        "while DuckDB rounds via float multiply). Scale shape: the LM "
        "table is vocab²-bounded -> broadcast; the corpus bigram "
        "stream map-side-joins it with NO corpus shuffle; the per-doc "
        "aggregate is the only wide stage."
    ),
)
def txt_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No ensure_parallelism here: both consumers of the tokenized
    # stream aggregate map-side immediately, so the pre-tokenize
    # repartition exchange costs more than the parallelism it buys at
    # every scale (measured r7: 0.78 s -> 0.58 s at sf0.1; at volume
    # the parquet scan splits parallelize the map stage natively).
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    prs = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
            )
        ).alias("pr"),
    ).select("doc_id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    # r7 shape (VERDICT r6 item 6 — the old checkpoint+broadcast plan
    # paid a 3-job floor): the LM build's groupBy(w1,w2) is map-side
    # combinable, so its shuffle moves only vocab²-bounded partials
    # (~1k rows/partition at the gate scale — negligible), and the
    # unigram total fuses in as a window over that same tiny table
    # (one exchange replaces the old groupBy(w1)+join pair). The
    # scoring pass re-tokenizes rather than checkpointing the corpus
    # bigram stream: re-running a narrow codegen'd map stage is
    # cheaper than materializing + re-reading 100 TB of exploded
    # bigrams, and it keeps the operator stateless. Per-doc agg is
    # map-side combinable too — the only corpus-sized shuffle in the
    # whole plan is doc-count partials.
    bc = prs.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    # coalesce(1): SinglePartition satisfies the window's clustering
    # requirement, so the unigram-total window runs with NO exchange.
    # Sound because the LM table is already assumed broadcastable
    # (the join below) — if it fits in one broadcast it fits in one
    # window task.
    p = bc.coalesce(1).select(
        "w1",
        "w2",
        F.expr("(n * 1000000L) div sum(n) over (partition by w1)").alias("p_u"),
    )
    return (
        prs.join(F.broadcast(p), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("CAST(sum(p_u) div count(*) AS BIGINT)").alias("avg_pcond_u"),
        )
    )


@register(
    "txt_top_tokens",
    oracle=(
        f"WITH {_TOKS_CTE}, "
        "occ AS (SELECT unnest(tk) AS token FROM toks) "
        "SELECT token, COUNT(*) AS n_occurrences FROM occ GROUP BY token "
        "ORDER BY n_occurrences DESC, token LIMIT 100"
    ),
    doc=(
        "Global token frequency top-k — the vocabulary-construction "
        "primitive (BPE seeding, stopword discovery, tokenizer "
        "coverage audits). Plan shape at 100 TB: the explode+count is "
        "a map-side-combinable aggregate (partial counts per "
        "partition, one shuffle of vocab-sized partials), and the "
        "top-100 plans as TakeOrderedAndProject — per-partition heap "
        "+ driver merge, never a global sort. Ties break "
        "deterministically by token text."
    ),
)
def txt_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_tokens_df(spark, sf_dir, 100)


def top_tokens_df(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """THE Spark-side top-k token-frequency definition, parameterized
    by k — txt_top_tokens registers it at k=100 and txt_oov_rate
    builds its vocabulary at k=20 (r16 review: oov previously
    hand-copied this body while its oracle spliced txt_top_tokens'
    SQL, so a logic tweak here would have flowed into oov's oracle
    but not its Spark side — the one-sided-drift class)."""
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    occ = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    return (
        occ.groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(k)
    )


# Low enough to yield a non-trivial result at the sf0.01 driver gate
# (500 docs); at corpus scale this would be a corpus-share threshold.
_BP_DF_MIN = 5


@register(
    "txt_boilerplate_phrases",
    oracle=(
        f"WITH {_TOKS_CTE}, {_TG_CTE}, "
        "inv AS (SELECT doc_id, unnest(tg) AS phrase FROM tg) "
        "SELECT phrase, COUNT(*) AS df FROM inv GROUP BY phrase "
        f"HAVING COUNT(*) >= {_BP_DF_MIN} "
        "ORDER BY df DESC, phrase LIMIT 100"
    ),
    doc=(
        "Boilerplate-phrase mining: word trigrams counted by DOCUMENT "
        "frequency (distinct per doc, so a phrase repeated inside one "
        "page counts once) — phrases shared by ≥N documents (threshold tuned to the gate scale) are "
        "template/boilerplate candidates for stripping before "
        "training. Same aggregate shape as txt_top_tokens "
        "(map-side-combinable count + TakeOrdered top-k); at 100 TB "
        "this is the cheap first pass that feeds a line/phrase "
        "removal filter."
    ),
)
def txt_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = _tg_sets_df(spark, sf_dir)
    inv = sets.select("doc_id", F.explode("tg").alias("phrase"))
    return (
        inv.groupBy("phrase")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _BP_DF_MIN)
        .orderBy(F.col("df").desc(), F.col("phrase"))
        .limit(100)
    )


_KNN_K = 3


@register(
    "sim_knn_bucket_join",
    oracle=(
        f"WITH {_hp_sig_cte()}, "
        "cand AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
        f"CAST(round(CAST(CAST({dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) "
        "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) "
        "AS cos_sim, "
        f"CAST(floor({dot_sql('a.embedding', 'b.embedding')} "
        "/ (a.nrm * b.nrm) * 10000) AS BIGINT) AS cs_fp "
        "FROM sig a JOIN sig b "
        "ON a.sig = b.sig AND a.vec_id <> b.vec_id), "
        "ranked AS (SELECT query_id, neighbor_id, cos_sim, "
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cs_fp DESC, neighbor_id) AS n_rank FROM cand) "
        f"SELECT query_id, n_rank, neighbor_id, cos_sim FROM ranked "
        f"WHERE n_rank <= {_KNN_K}"
    ),
    doc=(
        "Batch k-NN JOIN over hyperplane-LSH buckets — the all-queries "
        "form of ANN search (sim_ann_ivf_search is the few-queries "
        "form): every vector retrieves its top-3 same-bucket "
        "neighbors by exact cosine re-rank. Candidates come from the "
        "8-bit Charikar sketch equi-join (never all-pairs; both "
        "engines build bit-identical sketches from md5-parity ±1 "
        "planes), ranking is a per-query window over the bounded "
        "candidate set with the tie-break on (floor'd 1e4 fixed-point "
        "cosine, "
        "neighbor id) so row_number is deterministic cross-engine. "
        "At 100 TB: bucket join shuffles by sketch value, the window "
        "partitions by query — both bounded by bucket occupancy, "
        "which multi-probe or more planes tune."
    ),
)
def sim_knn_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.training import _hp_sig_df

    # Shared hardened sketch table (r16 review: this inline copy
    # indexed embedding[0..63] per dimension — ANSI-aborts on a short
    # embedding — and had no zero-norm guard; see training._hp_sig_cte).
    sig = _hp_sig_df(spark, sf_dir)
    a, b = sig.alias("a"), sig.alias("b")
    # vectors.dot: common-prefix fold (r17 — zip_with NULL-pads on a
    # length mismatch where the oracle least()-ranges)
    from duckdb_data_eng_proj_spark.operators.vectors import dot as _vdot

    dot_ab = _vdot(F.col("a.embedding"), F.col("b.embedding"))
    # Rank on a floor'd fixed-point cosine (half-boundary-proof across
    # engines, matching the d7ae455 ratio hardening); the 4dp rounded
    # value is display-only output.
    raw_cos = dot_ab / (F.col("a.nrm") * F.col("b.nrm"))
    cand = a.join(
        b,
        (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(raw_cos, 4).alias("cos_sim"),
        F.floor(raw_cos * 10000).cast("bigint").alias("cs_fp"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cs_fp").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("n_rank", F.row_number().over(w))
        .filter(F.col("n_rank") <= _KNN_K)
        .select("query_id", "n_rank", "neighbor_id", "cos_sim")
    )


_CHUNK_LEN = 64
_CHUNK_STRIDE = 32


@register(
    "ext_doc_chunk",
    oracle=(
        f"WITH {_TOKS_CTE} "
        "SELECT doc_id, "
        f"CAST(i // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id, "
        f"CAST(least({_CHUNK_LEN}, len(tk) - i) AS BIGINT) AS n_chunk_tokens, "
        "tk[i+1] AS first_token "
        f"FROM toks, unnest(range(0, len(tk), {_CHUNK_STRIDE})) AS u(i) "
        "WHERE len(tk) > 0"
    ),
    doc=(
        "Document CHUNKING — the stage between a clean corpus and an "
        "embedding/RAG index: each document is split into 64-token "
        "windows with stride 32 (50% overlap), emitting (doc_id, "
        "chunk_id, chunk length, first token) per window; the final "
        "window may be short, matching every production chunker. Pure "
        "sequence+explode over the materialized token array — a "
        "narrow whole-stage-codegen'd map stage, no shuffle, so at "
        "100 TB chunking fuses into the corpus scan that feeds the "
        "embedding model."
    ),
)
def ext_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") > 0
    )
    starts = F.sequence(F.lit(0), F.size("tk") - 1, F.lit(_CHUNK_STRIDE))
    return (
        toks.select("doc_id", "tk", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.expr(f"i div {_CHUNK_STRIDE}").cast("bigint").alias("chunk_id"),
            F.least(F.lit(_CHUNK_LEN), F.size("tk") - F.col("i"))
            .cast("bigint")
            .alias("n_chunk_tokens"),
            F.element_at("tk", F.col("i") + 1).alias("first_token"),
        )
    )


@register(
    "vec_quantize_int8",
    oracle=(
        "WITH s AS (SELECT vec_id, embedding, "
        "list_aggregate(list_transform(embedding, x -> "
        "abs(CAST(x AS DOUBLE))), 'max') AS scale FROM embeddings) "
        "SELECT vec_id, "
        "CAST(floor(scale * 1000000) AS BIGINT) AS scale_u, "
        "array_to_string(list_transform(embedding, x -> "
        "CAST(CAST(floor(CAST(x AS DOUBLE) * 127 / scale) AS INT) "
        "AS VARCHAR)), ',') AS q8 "
        "FROM s WHERE scale > 0"
    ),
    doc=(
        "Symmetric int8 vector QUANTIZATION — the compression step a "
        "100 TB embedding store ships (4× smaller than float32, "
        "dot-product-compatible): per-vector scale = max |x|, "
        "components mapped by floor(x·127/scale). floor() — not "
        "round/cast — because IEEE floor is bit-identical across "
        "engines while DuckDB CAST rounds half-to-nearest and Spark "
        "cast truncates (the dedup_fuzzy_edit trap class); the scale "
        "ships as fixed-point micro-units for the same reason. The "
        "quantized array serializes via array_join (container-typed "
        "results crash the driver canonicalizer). Narrow map stage, "
        "no shuffle."
    ),
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    scale = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    s = e.select("vec_id", "embedding", scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 127 / F.col("scale"))
        .cast("int")
        .cast("string"),
    )
    return s.select(
        "vec_id",
        F.floor(F.col("scale") * 1000000).cast("bigint").alias("scale_u"),
        F.array_join(q, ",").alias("q8"),
    )


_RECALL_NQ = 10  # evaluation query batch: vec_id < 10


@register(
    "sim_ann_recall_eval",
    oracle=(
        f"WITH {_hp_sig_cte()}, "
        "bf AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
        f"CAST(floor({dot_sql('a.embedding', 'b.embedding')} "
        "/ (a.nrm * b.nrm) * 10000) AS BIGINT) "
        f"AS cs FROM sig a JOIN sig b ON a.vec_id < {_RECALL_NQ} "
        "AND b.vec_id <> a.vec_id), "
        "bfr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, "
        "neighbor_id, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cs DESC, neighbor_id) AS r FROM bf) WHERE r <= "
        f"{_KNN_K}), "
        "lc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
        f"CAST(floor({dot_sql('a.embedding', 'b.embedding')} "
        "/ (a.nrm * b.nrm) * 10000) AS BIGINT) "
        "AS cs FROM sig a JOIN sig b ON a.sig = b.sig "
        f"AND a.vec_id < {_RECALL_NQ} AND b.vec_id <> a.vec_id), "
        "lr AS (SELECT query_id, neighbor_id FROM (SELECT query_id, "
        "neighbor_id, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cs DESC, neighbor_id) AS r FROM lc) WHERE r <= "
        f"{_KNN_K}) "
        "SELECT t.query_id, CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_overlap, "
        f"CAST(round(CAST(CAST(CAST(COUNT(l.neighbor_id) AS DOUBLE) / {_KNN_K} "
        "AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS recall "
        "FROM bfr t LEFT JOIN lr l ON l.query_id = t.query_id "
        "AND l.neighbor_id = t.neighbor_id "
        "GROUP BY t.query_id"
    ),
    doc=(
        "ANN QUALITY EVALUATION — recall@k of the hyperplane-LSH "
        "bucket search against exact brute-force ground truth for an "
        "evaluation query batch: the harness every ANN deployment "
        "runs before trusting an index (tune nprobe/planes until "
        "recall clears the bar). Ground truth is a broadcast "
        "nested-loop scan of the bounded query batch against the "
        "corpus (the sanctioned all-pairs: |queries| is fixed and "
        "tiny, so cost is |Q|×N map-side, no shuffle); the LSH side "
        "is the same-bucket candidate ranking as sim_knn_bucket_join. "
        "Both rankings share the deterministic (floor'd fixed-point "
        "cosine, "
        "neighbor id) tie-break, so recall is exact cross-engine."
    ),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.training import _hp_sig_df

    # Shared hardened sketch table (r16 review — same inline-copy bug
    # class as sim_knn_bucket_join; see training._hp_sig_cte).
    sig = _hp_sig_df(spark, sf_dir)
    q = sig.filter(F.col("vec_id") < _RECALL_NQ)

    # vectors.dot: common-prefix fold (r17 — zip_with NULL-pads on a
    # length mismatch where the oracle least()-ranges)
    from duckdb_data_eng_proj_spark.operators.vectors import dot as _vdot

    dot_ab = _vdot(F.col("a.embedding"), F.col("b.embedding"))
    # Fixed-point floor ranking key (see sim_knn_bucket_join); the
    # cosine itself never reaches the output here.
    cs = F.floor(
        dot_ab / (F.col("a.nrm") * F.col("b.nrm")) * 10000
    ).cast("bigint")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cs").desc(), F.col("neighbor_id")
    )

    def topk(pairs: DataFrame) -> DataFrame:
        return (
            pairs.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= _KNN_K)
            .select("query_id", "neighbor_id")
        )

    bf = topk(
        F.broadcast(q.alias("a"))
        .join(sig.alias("b"), F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cs.alias("cs"),
        )
    )
    ls = topk(
        F.broadcast(q.alias("a"))
        .join(
            sig.alias("b"),
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("b.vec_id") != F.col("a.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cs.alias("cs"),
        )
    )
    hit = ls.withColumn("_hit", F.lit(1))
    return (
        bf.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").cast("bigint").alias("n_overlap"),
            F.round(F.count("_hit").cast("double") / _KNN_K, 4).alias("recall"),
        )
    )


# Ensemble filter thresholds (tuned so every reason fires on the
# driver's sf0.01 gate data — see the distribution probe in the r5
# commit): quality < 0.5, non-English, duplicate-token fraction > 0.6,
# LM score < 32000 micro-units.
_ENS_Q_MIN = 0.5
_ENS_DUP_MAX = 0.6
_ENS_LM_MIN = 32000


def _ensemble_oracle() -> str:
    from duckdb_data_eng_proj_spark.queries.registry import REGISTRY

    q = REGISTRY["txt_quality_score"].oracle
    r = REGISTRY["txt_rep_signals"].oracle
    lng = REGISTRY["txt_lang_id"].oracle
    lm = REGISTRY["txt_lm_doc_score"].oracle
    return (
        f"WITH q AS ({q}), r AS ({r}), l AS ({lng}), m AS ({lm}) "
        "SELECT q.doc_id, "
        f"CAST((CASE WHEN q.quality_score < {_ENS_Q_MIN} THEN 1 ELSE 0 END) "
        "+ (CASE WHEN l.pred_lang <> 'en' THEN 2 ELSE 0 END) "
        f"+ (CASE WHEN r.dup_token_frac > {_ENS_DUP_MAX} THEN 4 ELSE 0 END) "
        f"+ (CASE WHEN coalesce(m.avg_pcond_u, 0) < {_ENS_LM_MIN} THEN 8 "
        "ELSE 0 END) AS INT) AS reasons, "
        f"(q.quality_score >= {_ENS_Q_MIN} AND l.pred_lang = 'en' "
        f"AND r.dup_token_frac <= {_ENS_DUP_MAX} "
        f"AND coalesce(m.avg_pcond_u, 0) >= {_ENS_LM_MIN}) AS keep "
        "FROM q JOIN r ON r.doc_id = q.doc_id "
        "JOIN l ON l.doc_id = q.doc_id "
        "LEFT JOIN m ON m.doc_id = q.doc_id"
    )


@register(
    "ext_quality_ensemble",
    oracle=_ensemble_oracle(),
    doc=(
        "Ensemble quality filter — the decision layer of a pretraining "
        "pipeline: every document gets a keep/drop verdict plus a "
        "REASON BITMASK (1=low quality score, 2=non-English, "
        "4=repetitious, 8=low LM probability) so filter rates are "
        "auditable per rule, which is how production corpus pipelines "
        "debug recall loss. Composes four already-verified signal "
        "operators (txt_quality_score, txt_lang_id, txt_rep_signals, "
        "txt_lm_doc_score) into ONE lazy plan — the oracle nests their "
        "oracle SQL as CTEs, so both sides reuse the proven "
        "definitions verbatim. Docs too short for bigrams LEFT-join "
        "the LM score and fail the LM rule via coalesce(0) — "
        "deterministic on both engines. Scale shape: four narrow "
        "signal maps + per-doc joins keyed doc_id; no corpus-wide "
        "shuffle beyond the doc_id co-partitioning a real deployment "
        "would bucket on."
    ),
)
def ext_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.training import (
        txt_lang_id,
        txt_quality_score,
        txt_rep_signals,
    )

    q = txt_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    r = txt_rep_signals(spark, sf_dir).select("doc_id", "dup_token_frac")
    lng = txt_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    m = txt_lm_doc_score(spark, sf_dir).select("doc_id", "avg_pcond_u")
    j = (
        q.join(r, "doc_id")
        .join(lng, "doc_id")
        .join(m, "doc_id", "left")
        .withColumn("lm_u", F.coalesce(F.col("avg_pcond_u"), F.lit(0)))
    )
    reasons = (
        F.when(F.col("quality_score") < _ENS_Q_MIN, 1).otherwise(0)
        + F.when(F.col("pred_lang") != "en", 2).otherwise(0)
        + F.when(F.col("dup_token_frac") > _ENS_DUP_MAX, 4).otherwise(0)
        + F.when(F.col("lm_u") < _ENS_LM_MIN, 8).otherwise(0)
    )
    keep = (
        (F.col("quality_score") >= _ENS_Q_MIN)
        & (F.col("pred_lang") == "en")
        & (F.col("dup_token_frac") <= _ENS_DUP_MAX)
        & (F.col("lm_u") >= _ENS_LM_MIN)
    )
    return j.select(
        "doc_id", reasons.cast("int").alias("reasons"), keep.alias("keep")
    )
