"""Round-12 operators: the three registry gaps the r12 fresh-analysis
audit (VERDICT r11 item 5) confirmed the 258-id registry genuinely
lacks — each the WRITE/MAINTENANCE sibling of an already-verified
read-side operator:

- sim_ann_ivf_admit — the write-side sibling of sim_ann_index_drift:
  route an incoming embedding batch (vec_id % 3 = 0, the shared batch
  convention) into the PERSISTED IVF layout (the stale centroid set
  trained on the corpus) and emit the per-partition admission plan a
  writer executes: existing/incoming/after counts, growth per-mille,
  and the split flag for partitions the admission pushes past 2× the
  balanced size. sim_ann_ivf_partitioned proved the probe/read path
  of the layout; this is the append path.
- ext_corpus_release_diff — the two-generation datasheet:
  ext_dataset_card (one snapshot's card) × etl_snapshot_diff's
  generation framing. Per language plus a '__total__' rollup row:
  doc counts, token mass, corpus share, and exact-dup rate for BOTH
  generations (old = doc_id % 3 <> 0, new = the full table), so a
  release note shows exactly how the crawl shifted the mix.
- dedup_band_index_vacuum — the maintenance sibling of
  dedup_minhash_incremental: after deletes (doc_id % 13 = 0, the
  etl_snapshot_diff delete rule), the persisted LSH band index holds
  dead postings and orphaned buckets. Per band: posting/bucket
  occupancy before and after, dead share per-mille, the orphaned
  single-member buckets that can no longer generate candidates, and
  the rewrite flag compaction acts on.
- dedup_lsh_tune — the parameter-selection sibling of
  sim_ann_recall_eval, for the MinHash side: evaluate the whole
  (bands x rows) grid over the same 8-hash signatures in one pass —
  realized candidate-join load from bucket occupancy (never
  materializing a pair) and expected recall from the banding S-curve
  1-(1-s^r)^b over exact Jaccard of a ground-truth pair set generated
  by the most-permissive (8x1) grid config, a provable superset of
  every coarser config's candidates.

Reference parity: the reference (a DuckDB loan-ETL take-home,
pipeline.py) has none of these — they extend the training-pipeline
families per the build charter. All follow the repo determinism rules
(registry.py): exact integer arithmetic, identical tie-breaks and
aliases in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.lsh import (
    HASH_COLS,
    N_HASHES,
    first_match,
    signatures,
)
from duckdb_data_eng_proj_spark.operators.textops import (
    lsh_band_buckets,
    tokens,
    word_ngrams,
)
from duckdb_data_eng_proj_spark.operators.vectors import (
    dot,
    pack_centroids,
    scored_centroids,
)
from duckdb_data_eng_proj_spark.queries.extras_r11 import (
    _DRIFT_SEED_LIMIT,
    _drift_assign_cte,
)
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import (
    _LSH_PRELUDE,
    _TOKS_CTE,
    _bigram_sets_df,
    _dot_sql,
    _fingerprint_expr,
    _fp_sql,
    _lsh_bands_df,
    _shingles_sql,
)

# ---------------------------------------------------------------------------
# sim_ann_ivf_admit

# Split threshold: a partition the admission pushes past 2× the
# perfectly-balanced share (ceil(total_after / k)) gets flagged — the
# standard grow-then-split heuristic; production tunes the factor to
# its file-size targets.
_ADMIT_K = 16
_ADMIT_SPLIT_FACTOR = 2


@register(
    "sim_ann_ivf_admit",
    oracle=(
        # fixed-dim contract (r17): the admit update folds hardcode 64
        "WITH e AS (SELECT vec_id, embedding, "
        f"sqrt({_dot_sql('embedding', 'embedding')}) AS nrm "
        "FROM embeddings WHERE len(embedding) = 64), "
        "eo AS (SELECT * FROM e WHERE vec_id % 3 <> 0), "
        "nb AS (SELECT * FROM e WHERE vec_id % 3 = 0), "
        "cent AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm "
        f"FROM e WHERE vec_id < {_DRIFT_SEED_LIMIT} AND vec_id % 3 <> 0), "
        + _drift_assign_cte("a_old", "eo", "cent")
        + ", "
        + _drift_assign_cte("a_new", "nb", "cent")
        + ", "
        "co AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM a_old "
        "GROUP BY cid), "
        "cn AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM a_new "
        "GROUP BY cid), "
        "g AS (SELECT c.cid AS centroid_id, "
        "COALESCE(co.n, 0) AS n_existing, "
        "COALESCE(cn.n, 0) AS n_incoming, "
        "COALESCE(co.n, 0) + COALESCE(cn.n, 0) AS n_after "
        "FROM cent c LEFT JOIN co ON co.cid = c.cid "
        "LEFT JOIN cn ON cn.cid = c.cid) "
        "SELECT centroid_id, n_existing, n_incoming, n_after, "
        "CAST(n_incoming * 1000 // GREATEST(1, n_existing) AS BIGINT) "
        "AS growth_pml, "
        f"CAST(CASE WHEN n_after > {_ADMIT_SPLIT_FACTOR} * "
        f"((SUM(n_after) OVER () + {_ADMIT_K - 1}) // {_ADMIT_K}) "
        "THEN 1 ELSE 0 END AS BIGINT) AS needs_split "
        "FROM g ORDER BY centroid_id"
    ),
    doc=(
        "IVF INDEX ADMISSION — the write-side sibling of "
        "sim_ann_index_drift (extras_r11.py): an incoming embedding "
        "batch (vec_id % 3 = 0, the shared ingest-batch convention) "
        "is routed into the PERSISTED IVF layout — the stale centroid "
        "set trained on the corpus only (the 16 corpus seeds of "
        "sim_ann_index_drift's cent0; in production this is a "
        "metadata read of the persisted centroid table, exactly the "
        "layout sim_ann_ivf_partitioned writes). Admission does NOT "
        "retrain: batch vectors take their argmax-cosine centroid "
        "under yesterday's index, which is what makes the append "
        "cheap and the drift op necessary. Output, one row per "
        "centroid partition: existing corpus members, incoming batch "
        "members, post-admit size, growth per-mille "
        "(incoming*1000 // existing), and needs_split = 1 when the "
        f"partition lands past {_ADMIT_SPLIT_FACTOR}x the balanced "
        f"share ceil(total_after/{_ADMIT_K}) — the file a compactor "
        "re-clusters before probe latency degrades. Determinism: "
        "(cosine DESC, cid) tie-break and sequential-fold dot "
        "products, the ml_iter discipline verbatim. Scale shape: "
        "both assignments are map-side packed-centroid argmax over a "
        "broadcast 16-row centroid table (zero corpus shuffle, the "
        "sim_ann_ivf plan); the only shuffles are two "
        "map-side-combinable per-centroid COUNTs (each output <= k "
        "rows), and the balanced-share window runs over the 16-row "
        "report. At 100 TB admission costs one batch scan + one "
        "corpus-count read (in production the existing counts are "
        "index metadata, not a corpus scan — both sides derive from "
        "one plan here so one registered query certifies the whole "
        "admission contract)."
    ),
    tags=("similarity",),
)
def sim_ann_ivf_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(t(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") == 64  # fixed-dim contract (r17)
    ).select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    cent = e.filter(
        (F.col("vec_id") < _DRIFT_SEED_LIMIT) & (F.col("vec_id") % 3 != 0)
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    # Eager-checkpoint the centroid table before packing: it feeds a
    # broadcast (the r10 lesson — lazily-shared subplans under
    # broadcasts race into concurrent recomputes). c_nrm > 0 mirrors
    # _drift_assign_cte's zero-norm centroid guard (r16).
    cent = cent.localCheckpoint()
    packed = pack_centroids(
        cent.filter(F.col("c_nrm") > 0), cid="cid", emb="c_emb", nrm="c_nrm"
    )
    best = F.array_min(
        scored_centroids(F.col("_cents"), F.col("embedding"), F.col("nrm"))
    )

    # ONE corpus pass (r16 — previously two disjoint scans, one per
    # generation): existing (vec_id % 3 <> 0) and incoming batch
    # (vec_id % 3 = 0) partition e exactly, so conditional counts over
    # a single assignment scan produce both columns. The oracle keeps
    # the two-CTE spec form; the counts are identical by partition.
    # nrm > 0 mirrors _drift_assign_cte's zero-norm vector guard.
    cnts = (
        e.filter(F.col("nrm") > 0)
        .crossJoin(F.broadcast(packed))
        .select(
            best["cid"].alias("cid"),
            (F.col("vec_id") % 3 == 0).alias("_incoming"),
        )
        .groupBy("cid")
        .agg(
            F.count(F.when(~F.col("_incoming"), F.lit(1)))
            .cast("long")
            .alias("n_existing"),
            F.count(F.when(F.col("_incoming"), F.lit(1)))
            .cast("long")
            .alias("n_incoming"),
        )
    )
    g = (
        cent.select(F.col("cid").alias("centroid_id"))
        .join(F.broadcast(cnts), F.col("centroid_id") == cnts["cid"], "left")
        .drop("cid")
        .select(
            "centroid_id",
            F.coalesce(F.col("n_existing"), F.lit(0)).alias("n_existing"),
            F.coalesce(F.col("n_incoming"), F.lit(0)).alias("n_incoming"),
        )
        .withColumn("n_after", F.col("n_existing") + F.col("n_incoming"))
    )
    # Balanced-share window over the 16-row report (result-sized).
    # Exact integer ceiling-share, mirroring the oracle's // — a
    # double divide + floor rounds across an integer boundary near
    # 2^53 totals and flips needs_split (round-15 review; growth_pml
    # below already used the DIV form).
    balanced = F.expr(
        f"CAST((SUM(n_after) OVER () + {_ADMIT_K - 1}) DIV {_ADMIT_K} AS BIGINT)"
    )
    return (
        g.select(
            "centroid_id",
            "n_existing",
            "n_incoming",
            "n_after",
            F.expr(
                "CAST(n_incoming * 1000 DIV GREATEST(1L, n_existing) "
                "AS BIGINT)"
            ).alias("growth_pml"),
            F.when(
                F.col("n_after")
                > F.lit(_ADMIT_SPLIT_FACTOR) * balanced,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("needs_split"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# ext_corpus_release_diff

# Generation convention mirrors sim_ann_index_drift's snapshot rule on
# the documents table: doc_id % 3 <> 0 is the previous release,
# the full table is the new one.
_REL_TOTAL = "__total__"


@register(
    "ext_corpus_release_diff",
    oracle=(
        f"WITH {_TOKS_CTE}, "
        "sh AS (SELECT doc_id, tk, "
        f"{_shingles_sql('tk')} AS shingles FROM toks), "
        "base AS (SELECT d.doc_id, d.lang, len(s.tk) AS n_tok, "
        f"{_fp_sql('s.tk', 's.shingles')} AS fingerprint, "
        "d.doc_id % 3 <> 0 AS is_old "
        "FROM documents d JOIN sh s ON s.doc_id = d.doc_id), "
        "per AS (SELECT lang AS section, "
        "CAST(COUNT(CASE WHEN is_old THEN 1 END) AS BIGINT) AS n_docs_old, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs_new, "
        "CAST(COALESCE(SUM(CASE WHEN is_old THEN n_tok END), 0) AS BIGINT) "
        "AS tokens_old, "
        "CAST(SUM(n_tok) AS BIGINT) AS tokens_new, "
        "CAST(COUNT(DISTINCT CASE WHEN is_old THEN fingerprint END) "
        "AS BIGINT) AS uq_old, "
        "CAST(COUNT(DISTINCT fingerprint) AS BIGINT) AS uq_new "
        "FROM base GROUP BY lang "
        "UNION ALL "
        f"SELECT '{_REL_TOTAL}', "
        "CAST(COUNT(CASE WHEN is_old THEN 1 END) AS BIGINT), "
        "CAST(COUNT(*) AS BIGINT), "
        "CAST(COALESCE(SUM(CASE WHEN is_old THEN n_tok END), 0) AS BIGINT), "
        "CAST(SUM(n_tok) AS BIGINT), "
        "CAST(COUNT(DISTINCT CASE WHEN is_old THEN fingerprint END) "
        "AS BIGINT), "
        "CAST(COUNT(DISTINCT fingerprint) AS BIGINT) FROM base) "
        "SELECT section, n_docs_old, n_docs_new, "
        "n_docs_new - n_docs_old AS docs_delta, tokens_old, tokens_new, "
        "CAST(n_docs_old * 1000 // GREATEST(1, "
        "(SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 0)) "
        "AS BIGINT) AS share_old_pml, "
        # New-side GREATEST guards (r19, the recall-curve 0/0 class):
        # with an EMPTY documents table the UNION ALL total row still
        # exists (global aggregate over empty input = one zero row),
        # so the bare denominators were 0 DIV 0 — Spark ANSI throws
        # (integer DIV; double path throws at CAST(NaN AS BIGINT))
        # while DuckDB NULLs. Clamp mirrors the old side's idiom:
        # shares/rates of an empty corpus read 0.
        "CAST(n_docs_new * 1000 // "
        "GREATEST(1, (SELECT COUNT(*) FROM documents)) "
        "AS BIGINT) AS share_new_pml, "
        "CAST(floor((n_docs_old - uq_old) * 10000.0 / "
        "GREATEST(1, n_docs_old)) AS BIGINT) AS dup_bp_old, "
        "CAST(floor((n_docs_new - uq_new) * 10000.0 / "
        "GREATEST(1, n_docs_new)) AS BIGINT) AS dup_bp_new "
        # Fail-empty guard (r19, probed): on an EMPTY documents table
        # Spark's grouping-sets plan emits ZERO rows while this UNION
        # ALL's global-aggregate branch still emits one __total__ row
        # (with SUM-over-empty NULLs) — EXISTS aligns the oracle on
        # fail-empty; no-op on any populated corpus.
        "FROM per WHERE EXISTS (SELECT 1 FROM documents) "
        "ORDER BY section"
    ),
    doc=(
        "CORPUS RELEASE DIFF — the two-generation datasheet a release "
        "note ships with: ext_dataset_card (extras_r5.py, the one-"
        "snapshot card) extended across etl_snapshot_diff's "
        "generation framing (old = doc_id % 3 <> 0 — the "
        "sim_ann_index_drift snapshot rule — new = the full table). "
        "One row per language plus a '__total__' rollup: doc counts "
        "and delta, token mass, corpus share per-mille, and the "
        "exact-duplicate rate in basis points for BOTH generations — "
        "so the release note answers 'what did this crawl do to the "
        "language mix and the dup rate' in one table. Definitions are "
        "spliced from the verified ops, not re-invented: tokens and "
        "the winnowing fingerprint are txt_fingerprint's "
        "(training.py:375) computed INLINE in the same projection as "
        "lang — no doc-keyed join between derived corpus tables — "
        "and dup basis points use ext_dataset_card's floor'd "
        "arithmetic (cross-engine-safe on exact half-boundaries). "
        "Old-side rates guard GREATEST(1, n) so a language new to "
        "this release reads 0, not NULL. Scale shape: one corpus "
        "scan into a lang-keyed map-side-combinable aggregate "
        "(|langs| groups; the two COUNT DISTINCT fingerprints "
        "shuffle lang-keyed fingerprint pairs — corpus-sized but "
        "narrow, the same cost class as ext_dedup_exact), a "
        "second scan for the rollup row, and two scalar-subquery "
        "share denominators broadcast into the |langs|+1-row report."
    ),
    tags=("corpus",),
)
def ext_corpus_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "lang", tokens(F.col("text")).alias("tk"))
    sh = toks.select(
        "doc_id", "lang", "tk", word_ngrams(F.col("tk"), 5).alias("shingles")
    )
    base = sh.select(
        "lang",
        F.size(F.col("tk")).alias("n_tok"),
        # txt_fingerprint's shared expression (training._fingerprint_expr)
        _fingerprint_expr(F.col("tk"), F.col("shingles")).alias("fingerprint"),
        (F.col("doc_id") % 3 != 0).alias("is_old"),
    )

    # ONE corpus scan via rollup (r16 — previously a per-lang groupBy
    # UNION a second full-scan global aggregate): rollup("lang") emits
    # the |langs| groups AND the grand-total group in one aggregate;
    # F.grouping distinguishes the total row (lang itself is non-null
    # in the schema, but grouping() is the correct discriminator
    # regardless). The oracle keeps its two-branch UNION ALL spec form.
    per = (
        base.rollup("lang")
        .agg(
            F.grouping("lang").alias("_total_row"),
            F.count(F.when(F.col("is_old"), F.lit(1)))
            .cast("long")
            .alias("n_docs_old"),
            F.count("*").cast("long").alias("n_docs_new"),
            F.coalesce(
                F.sum(F.when(F.col("is_old"), F.col("n_tok"))), F.lit(0)
            )
            .cast("long")
            .alias("tokens_old"),
            F.sum("n_tok").cast("long").alias("tokens_new"),
            F.countDistinct(F.when(F.col("is_old"), F.col("fingerprint")))
            .cast("long")
            .alias("uq_old"),
            F.countDistinct("fingerprint").cast("long").alias("uq_new"),
        )
        .select(
            F.when(F.col("_total_row") == 1, F.lit(_REL_TOTAL))
            .otherwise(F.col("lang"))
            .alias("section"),
            "n_docs_old",
            "n_docs_new",
            "tokens_old",
            "tokens_new",
            "uq_old",
            "uq_new",
        )
    )
    tot_new = d.agg(F.count("*").cast("long").alias("_tn"))
    tot_old = d.filter(F.col("doc_id") % 3 != 0).agg(
        F.count("*").cast("long").alias("_to")
    )
    return (
        per.crossJoin(F.broadcast(tot_new))
        .crossJoin(F.broadcast(tot_old))
        .select(
            "section",
            "n_docs_old",
            "n_docs_new",
            (F.col("n_docs_new") - F.col("n_docs_old")).alias("docs_delta"),
            "tokens_old",
            "tokens_new",
            F.expr(
                "CAST(n_docs_old * 1000 DIV GREATEST(1L, _to) AS BIGINT)"
            ).alias("share_old_pml"),
            # new-side GREATEST guards — see the oracle comment (r19)
            F.expr(
                "CAST(n_docs_new * 1000 DIV GREATEST(1L, _tn) AS BIGINT)"
            ).alias("share_new_pml"),
            F.floor(
                (F.col("n_docs_old") - F.col("uq_old"))
                * 10000.0
                / F.greatest(F.lit(1), F.col("n_docs_old"))
            )
            .cast("long")
            .alias("dup_bp_old"),
            F.floor(
                (F.col("n_docs_new") - F.col("uq_new"))
                * 10000.0
                / F.greatest(F.lit(1), F.col("n_docs_new"))
            )
            .cast("long")
            .alias("dup_bp_new"),
        )
        .orderBy("section")
    )


# ---------------------------------------------------------------------------
# dedup_band_index_vacuum

# Delete rule shared with etl_snapshot_diff's generation simulation:
# doc_id % 13 = 0 rows were deleted from the corpus since the index
# was written. Rewrite threshold: a band whose postings are >= 20%
# dead gets compacted (the standard vacuum trigger class).
_VACUUM_DELETE_MOD = 13
_VACUUM_REWRITE_PML = 200


@register(
    "dedup_band_index_vacuum",
    oracle=(
        f"{_LSH_PRELUDE}, "
        "idx AS (SELECT doc_id, band, bucket, "
        f"doc_id % {_VACUUM_DELETE_MOD} = 0 AS is_dead "
        "FROM bands WHERE bucket IS NOT NULL), "
        "bk AS (SELECT band, bucket, "
        "CAST(COUNT(*) AS BIGINT) AS n_post, "
        "CAST(COUNT(CASE WHEN is_dead THEN 1 END) AS BIGINT) AS n_dead "
        "FROM idx GROUP BY band, bucket), "
        "g AS (SELECT band, "
        "CAST(COUNT(*) AS BIGINT) AS n_buckets, "
        "CAST(COUNT(CASE WHEN n_dead = n_post THEN 1 END) AS BIGINT) "
        "AS n_buckets_dead, "
        "CAST(COUNT(CASE WHEN n_post - n_dead = 1 THEN 1 END) AS BIGINT) "
        "AS n_buckets_orphan, "
        "CAST(SUM(n_post) AS BIGINT) AS n_postings, "
        "CAST(SUM(n_dead) AS BIGINT) AS n_postings_dead "
        "FROM bk GROUP BY band) "
        "SELECT band, n_buckets, n_buckets_dead, n_buckets_orphan, "
        "n_postings, n_postings_dead, "
        "CAST(n_postings_dead * 1000 // n_postings AS BIGINT) AS dead_pml, "
        "CAST(CASE WHEN n_postings_dead * 1000 // n_postings >= "
        f"{_VACUUM_REWRITE_PML} THEN 1 ELSE 0 END AS BIGINT) AS rewrite "
        "FROM g ORDER BY band"
    ),
    doc=(
        "LSH BAND-INDEX VACUUM — the maintenance sibling of "
        "dedup_minhash_incremental (extras_r11.py): deletes "
        f"(doc_id % {_VACUUM_DELETE_MOD} = 0, etl_snapshot_diff's "
        "delete rule) leave the persisted (band, bucket, doc_id) "
        "index holding dead postings that keep matching incoming "
        "batches against evicted documents. Per band, the compaction "
        "planner's inputs: total buckets, fully-dead buckets (every "
        "member deleted — the posting lists compaction drops "
        "outright), ORPHANED buckets (exactly one live member left, "
        "INCLUDING buckets that were always single-member with no "
        "delete involved — either way they can never generate a "
        "candidate pair, so a candidate-only index can drop them; "
        "admission still needs them, which is why they are reported, "
        "not folded into dead — a planner reading this as delete-"
        "induced reclaim would over-estimate on corpora with many "
        "naturally-unique buckets), posting totals, the dead share "
        "per-mille, and "
        f"rewrite = 1 at >= {_VACUUM_REWRITE_PML} pml dead — the "
        "vacuum trigger. Scale shape: the index table (never the "
        "corpus text) flows through two map-side-combinable "
        "aggregates — (band, bucket) occupancy then a |bands|-row "
        "rollup; at 100 TB this is an index-sized scan with "
        "uniformly-hashed bucket keys, the same shuffle class the "
        "index was built with (here the index derives from the "
        "shared bands plan for testability; production reads the "
        "persisted table and writes back the compacted postings)."
    ),
    tags=("dedup",),
)
def dedup_band_index_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _lsh_bands_df(spark, sf_dir).withColumn(
        "is_dead", F.col("doc_id") % _VACUUM_DELETE_MOD == 0
    )
    bk = idx.groupBy("band", "bucket").agg(
        F.count("*").cast("long").alias("n_post"),
        F.count(F.when(F.col("is_dead"), F.lit(1)))
        .cast("long")
        .alias("n_dead"),
    )
    g = bk.groupBy("band").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.count(F.when(F.col("n_dead") == F.col("n_post"), F.lit(1)))
        .cast("long")
        .alias("n_buckets_dead"),
        F.count(F.when(F.col("n_post") - F.col("n_dead") == 1, F.lit(1)))
        .cast("long")
        .alias("n_buckets_orphan"),
        F.sum("n_post").cast("long").alias("n_postings"),
        F.sum("n_dead").cast("long").alias("n_postings_dead"),
    )
    return g.select(
        "band",
        "n_buckets",
        "n_buckets_dead",
        "n_buckets_orphan",
        "n_postings",
        "n_postings_dead",
        F.expr("CAST(n_postings_dead * 1000 DIV n_postings AS BIGINT)").alias(
            "dead_pml"
        ),
        F.expr(
            "CAST(CASE WHEN n_postings_dead * 1000 DIV n_postings >= "
            f"{_VACUUM_REWRITE_PML} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("rewrite"),
    ).orderBy("band")


# ---------------------------------------------------------------------------
# dedup_lsh_tune

# Banding grid over the shared 8-hash signature: every (bands,
# rows_per_band) split of the signature. All powers of two, so the
# S-curve p = 1 - (1 - s^r)^b evaluates by repeated squaring — the
# SAME fully-parenthesized expression tree on both engines (IEEE
# multiply is deterministic given identical association).
_TUNE_GRID: tuple[tuple[int, int], ...] = ((8, 1), (4, 2), (2, 4), (1, 8))
# Fixed-point scale is the LITERAL 1000000 at every site (both the
# oracle SQL and the Spark expressions) — a named constant here was
# dead (no site read it), which made it a silent-drift trap
# (round-15 review): edit all sites together or none.
_LOG2 = {1: 0, 2: 1, 4: 2, 8: 3}


def _sq_sql(expr: str, k: int) -> str:
    """expr^(2^k) by repeated squaring, fully parenthesized."""
    for _ in range(k):
        expr = f"({expr} * {expr})"
    return expr


def _tune_p_sql(bands: int, rpb: int) -> str:
    """S-curve catch probability 1 - (1 - s^r)^b over column ``s``."""
    sr = _sq_sql("s", _LOG2[rpb])
    return f"(1.0 - {_sq_sql(f'(1.0 - {sr})', _LOG2[bands])})"


def _sq_col(col, k: int):
    for _ in range(k):
        col = col * col
    return col


def _tune_p_col(s, bands: int, rpb: int):
    """Spark mirror of _tune_p_sql — identical association order."""
    sr = _sq_col(s, _LOG2[rpb])
    return F.lit(1.0) - _sq_col(F.lit(1.0) - sr, _LOG2[bands])


def _tune_bucket_sql(rpb: int, i: int) -> str:
    """Oracle bucket for band ``i`` under ``rpb`` rows per band —
    mirrors operators/textops.lsh_band_buckets ('|'-joined slice)."""
    parts = " || '|' || ".join(
        f"CAST(h{i * rpb + r} AS VARCHAR)" for r in range(rpb)
    )
    return f"md5({parts})"


_TUNE_ALLB_SQL = ", ".join(
    f"{{'bands': {nb}, 'band': {i}, 'bucket': {_tune_bucket_sql(rpb, i)}}}"
    for nb, rpb in _TUNE_GRID
    for i in range(nb)
)
_TUNE_B1_SQL = ", ".join(
    f"{{'band': {j}, 'h': h{j}}}" for j in range(N_HASHES)
)
_TUNE_CURVE_SQL = ", ".join(
    f"CAST(floor({_tune_p_sql(nb, rpb)} * 1000000.0) AS BIGINT) AS c{nb}x{rpb}"
    for nb, rpb in _TUNE_GRID
)
_TUNE_AGG_SQL = ", ".join(
    f"CAST(COALESCE(SUM(c{nb}x{rpb}), 0) AS BIGINT) AS c{nb}x{rpb}"
    for nb, rpb in _TUNE_GRID
)
_TUNE_ROWS_SQL = ", ".join(
    f"{{'bands': {nb}, 'rows_per_band': {rpb}, 'exp_caught_u': c{nb}x{rpb}}}"
    for nb, rpb in _TUNE_GRID
)


@register(
    "dedup_lsh_tune",
    oracle=(
        f"{_LSH_PRELUDE}, "
        f"allb AS (SELECT u.bands AS bands, u.band AS band, "
        f"u.bucket AS bucket FROM (SELECT unnest([{_TUNE_ALLB_SQL}]) AS u "
        "FROM sig)), "
        "occ AS (SELECT bands, band, bucket, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM allb WHERE bucket IS NOT NULL GROUP BY bands, band, bucket), "
        "load AS (SELECT bands, CAST(SUM((n * (n - 1)) // 2) AS BIGINT) "
        "AS cand_rows FROM occ GROUP BY bands), "
        "b1 AS (SELECT doc_id, band, h FROM (SELECT doc_id, u.band AS band, "
        f"u.h AS h FROM (SELECT doc_id, unnest([{_TUNE_B1_SQL}]) AS u "
        "FROM sig)) WHERE h IS NOT NULL), "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
        "FROM b1 x JOIN b1 y ON x.band = y.band AND x.h = y.h "
        "AND x.doc_id < y.doc_id), "
        "pj AS (SELECT len(list_intersect(a.bg, b.bg)) AS inter, "
        "len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)) AS un "
        "FROM cand c JOIN bg a ON a.doc_id = c.doc_a "
        "JOIN bg b ON b.doc_id = c.doc_b), "
        "ev AS (SELECT CAST(inter AS DOUBLE) / un AS s FROM pj "
        "WHERE 5 * inter >= un), "
        f"cu AS (SELECT {_TUNE_CURVE_SQL} FROM ev), "
        "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS eval_pairs, "
        f"{_TUNE_AGG_SQL} FROM cu), "
        "rows AS (SELECT eval_pairs, u.bands AS bands, "
        "u.rows_per_band AS rows_per_band, u.exp_caught_u AS exp_caught_u "
        f"FROM (SELECT eval_pairs, unnest([{_TUNE_ROWS_SQL}]) AS u "
        "FROM agg)) "
        "SELECT l.bands AS bands, r.rows_per_band AS rows_per_band, "
        "l.cand_rows AS cand_rows, r.eval_pairs AS eval_pairs, "
        "r.exp_caught_u AS exp_caught_u, "
        "CASE WHEN r.eval_pairs > 0 THEN "
        "CAST(round(CAST(CAST(CAST(r.exp_caught_u AS DOUBLE) / "
        "CAST(r.eval_pairs * 1000000 AS DOUBLE) AS VARCHAR) "
        "AS DECIMAL(38,18)), 4) AS DOUBLE) ELSE 0.0 END "
        "AS exp_recall "
        "FROM load l JOIN rows r ON l.bands = r.bands"
    ),
    doc=(
        "LSH BANDING PARAMETER PLANNER — the parameter-selection "
        "sibling of sim_ann_recall_eval (training_extra.py), for the "
        "MinHash near-dup side: before committing a trillion-doc "
        "dedup run to one (bands, rows) choice, score the WHOLE grid "
        "over the signatures the corpus already has. For every split "
        "of the 8-hash signature — 8x1, 4x2, 2x4, 1x8 — two numbers "
        "a planner trades off: (1) realized candidate-join load "
        "cand_rows = sum over (band, bucket) of C(n,2), computed "
        "from bucket OCCUPANCY counts only (a 15-struct explode of "
        "the signature row, one map-side-combinable aggregate — no "
        "pair is ever materialized for the load estimate, so the "
        "metric itself is index-sized at 100 TB); and (2) expected "
        "recall at Jaccard >= 0.2: per ground-truth pair the classic "
        "banding S-curve p = 1 - (1 - s^r)^b evaluated by repeated "
        "squaring (identical IEEE expression trees both engines), "
        "fixed-point floor(p * 1e6) summed exactly as BIGINT, one "
        "rounded division at the end (registry determinism rules). "
        "The ground-truth pair set comes from the 8x1 config — one "
        "band per single minhash — whose candidates are a PROVABLE "
        "superset of every coarser config's (agreeing on an r-row "
        "slice implies agreeing on each row), so grid recalls are "
        "exact relative to the most permissive member, not biased "
        "toward the currently-deployed 4x2 index; pairs invisible to "
        "all 8 hashes are outside any config's reach (the S-curve "
        "tail). The verify stream NEVER shuffles pair rows: each side "
        "of the (band, h) self-join carries its shingle set and all "
        "8 hashes (corpus-LINEAR weight), each pair is emitted "
        "exactly once by the first-match-band predicate (no DISTINCT "
        "pass), and the matched rows pipeline straight through the "
        "Jaccard projection into the one-row S-curve aggregate — at "
        "any scale the exchanges move only signature rows, never "
        "candidates. Production reads a persisted signature table; "
        "here the signature chain is inlined for testability like "
        "dedup_minhash_lsh."
    ),
    tags=("dedup",),
)
def dedup_lsh_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO checkpoint here, by measured negative A/B (round-15 review
    # suggested the ext_dedup_near front-half pattern because the allb
    # occupancy branch re-runs the md5 minima chain; measured at
    # sf0.1: 8.15 s checkpointed vs 7.6-8.1 s without — materializing
    # the bg shingle payload costs what the saved recompute buys, the
    # dedup_minhash_incremental no-pin class).
    sig = signatures(_bigram_sets_df(spark, sf_dir), carry=("bg",))

    # Arm 1: candidate-load from bucket occupancy, all configs in one
    # explode → one (bands, band, bucket) combine-heavy aggregate.
    entries = []
    for nb, rpb in _TUNE_GRID:
        for i, bucket in enumerate(lsh_band_buckets(HASH_COLS, rpb)):
            entries.append(
                F.struct(
                    F.lit(nb).alias("bands"),
                    F.lit(i).alias("band"),
                    bucket.alias("bucket"),
                )
            )
    allb = (
        sig.select(F.explode(F.array(*entries)).alias("u"))
        .select("u.bands", "u.band", "u.bucket")
        .filter(F.col("bucket").isNotNull())
    )
    occ = allb.groupBy("bands", "band", "bucket").agg(
        F.count("*").cast("long").alias("n")
    )
    load = occ.groupBy("bands").agg(
        F.sum(F.expr("(n * (n - 1)) DIV 2")).cast("long").alias("cand_rows")
    )

    # Arm 2: ground-truth pairs from the 8x1 config (superset of the
    # grid), exact-Jaccard verified, then the S-curve per config.
    #
    # Shape (the x8-stress lesson): the pair stream must NEVER
    # shuffle. The first version deduped candidates with DISTINCT and
    # joined the pairs back to the shingle sets — at stress volume
    # the replica cliques grow candidates ~64x and every post-join
    # exchange then moves pair rows CARRYING ~2 KB bigram arrays
    # (spilled the disk). Instead: carry each doc's shingle set and
    # ALL 8 hashes through the band explode (corpus-LINEAR weight),
    # self-join on (band, h), and emit each pair exactly once via the
    # classic FIRST-MATCH-BAND predicate (lsh.first_match: suppress at
    # band b unless no band j < b also agrees). The matched pair rows
    # then PIPELINE straight through the Jaccard projection into the
    # one-row S-curve aggregate: same pair set as the DISTINCT form
    # (each matching pair once), zero pair-row exchanges.
    # Explicit-width repartition on the join key: the self-join is
    # OUTPUT-explosive (its pair volume is the quantity being
    # measured), but AQE sizes shuffle widths on INPUT bytes — under
    # the default (100 TB posture) profile it coalesced this
    # signature-sized exchange to ~2 tasks and the pair stage ran
    # 10.9x slower than the latency profile. An explicit-N
    # repartition is exempt from AQE coalescing, so the matched-pair
    # work keeps full width on any profile.
    width = spark.sparkContext.defaultParallelism
    b1 = (
        sig.select(
            "doc_id",
            "bg",
            *HASH_COLS,
            F.posexplode(F.array(*[F.col(c) for c in HASH_COLS])).alias(
                "band", "h"
            ),
        )
        .filter(F.col("h").isNotNull())
        .repartition(width, "band", "h")
    )
    # merge hint: both self-join sides are the corpus-derived exploded
    # signature — shuffle on (band, h), never broadcast (the 8x1
    # config is the PERMISSIVE end of the grid; its candidate volume
    # is exactly what the planner exists to measure, so the plan must
    # not assume it is broadcast-small).
    x, y = b1.alias("x"), b1.hint("merge").alias("y")
    inter = F.size(F.array_intersect(F.col("x.bg"), F.col("y.bg")))
    un = F.size(F.col("x.bg")) + F.size(F.col("y.bg")) - inter
    # The `ev` qualifying filter (5·inter >= un) lives IN the join
    # condition, written LAST and in single-intersect form:
    # 5i >= (sx+sy-i)  <=>  6i >= sx+sy exactly over integers, so the
    # pair set is unchanged. Left as a separate .filter(), Catalyst
    # pushes it into the SMJ condition anyway — but PREPENDED, so
    # every (band, h)-coincident ordered pair paid TWO interpreted
    # array_intersect calls before the cheap doc_id</first-match
    # predicates could reject it (r20 measured: 2.6M candidate pairs
    # at sf0.1, the operator's dominant term — 8.9 s -> ~3.9 s with
    # the condition ordered cheap-first and one intersect).
    jacc_last = (F.lit(6) * inter) >= (
        F.size(F.col("x.bg")) + F.size(F.col("y.bg"))
    )
    ev = x.join(y, first_match("h", HASH_COLS) & jacc_last).select(
        (inter.cast("double") / un).alias("s")
    )
    cu = ev.select(
        *[
            F.floor(
                _tune_p_col(F.col("s"), nb, rpb) * F.lit(1000000.0)
            ).alias(f"c{nb}x{rpb}")
            for nb, rpb in _TUNE_GRID
        ]
    )
    agg = cu.agg(
        F.count("*").cast("long").alias("eval_pairs"),
        *[
            F.coalesce(F.sum(f"c{nb}x{rpb}"), F.lit(0))
            .cast("long")
            .alias(f"c{nb}x{rpb}")
            for nb, rpb in _TUNE_GRID
        ],
    )
    rows = agg.select(
        "eval_pairs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(nb).alias("bands"),
                        F.lit(rpb).alias("rows_per_band"),
                        F.col(f"c{nb}x{rpb}").alias("exp_caught_u"),
                    )
                    for nb, rpb in _TUNE_GRID
                ]
            )
        ).alias("u"),
    ).select(
        F.col("u.bands").alias("bands"),
        F.col("u.rows_per_band").alias("rows_per_band"),
        F.col("u.exp_caught_u").alias("exp_caught_u"),
        "eval_pairs",
    )
    # merge hint on the |grid|-row report join too: broadcasting
    # `rows` would put the ENTIRE arm-2 candidate+verify pipeline
    # under a BroadcastExchange, whose future must complete within
    # spark.sql.broadcastTimeout — at stress volume the (legitimate)
    # candidate work exceeds it and the job dies on a timeout instead
    # of just running. A 4-row SMJ costs nothing; no heavy subtree
    # may ever sit under a broadcast.
    return load.join(rows.hint("merge"), "bands").select(
        "bands",
        "rows_per_band",
        "cand_rows",
        "eval_pairs",
        "exp_caught_u",
        F.when(
            F.col("eval_pairs") > 0,
            F.round(
                F.col("exp_caught_u").cast("double")
                / (F.col("eval_pairs") * F.lit(1000000)).cast("double"),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("exp_recall"),
    )
