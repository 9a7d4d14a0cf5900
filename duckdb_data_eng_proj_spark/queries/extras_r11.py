"""Round-11 operators: the three registry gaps a 100 TB user hits
that the r10 fresh-analysis audit (VERDICT r10 item 5) confirmed the
255-id registry genuinely lacks:

- join_skew_diagnose — the pre-join shuffle diagnostic you run BEFORE
  join_salted_skew: per-key fan-out volume of a planned equi-join
  (BOTH sides multi-row, so out = n_left × n_right per key), log2-
  binned, with per-bin totals, output share, and the salt factor the
  heaviest key in the bin needs. Differentiated from
  graph_degree_distribution (single-relation co-occurrence degree
  audit over the temporal graph): this is the two-sided JOIN planner
  input — the product volume, the keys only one side has, and a
  concrete treatment recommendation.
- dedup_minhash_incremental — near-dup admission for an incoming
  batch against an EXISTING MinHash-LSH index: the nightly-ingest
  sibling of etl_dedup_incremental (which is fingerprint-EXACT only)
  built from the verified dedup_minhash_lsh front half and the
  dedup_near_keep verification threshold. Batch docs get a verdict
  (admit / dup_corpus / dup_batch) plus the partner that evicted
  them.
- sim_ann_index_drift — cross-snapshot IVF index health: how stale
  does yesterday's centroid set go when the corpus grows? Extends
  sim_ann_recall_eval (which scores ONE index against ground truth)
  to the two-generation comparison a re-train scheduler needs:
  per-centroid membership under the stale vs re-trained index,
  the stable overlap, and the centroid displacement.

Reference parity: the reference (a DuckDB loan-ETL take-home,
pipeline.py) has none of these — they extend the training-pipeline
families per the build charter. All follow the repo determinism rules
(registry.py): integer fixed-point or order-pinned double folds,
identical tie-breaks and aliases in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.lsh import bucket_pairs
from duckdb_data_eng_proj_spark.operators.vectors import (
    dot,
    pack_centroids,
    scored_centroids,
)
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import (
    _LSH_PRELUDE,
    _bigram_sets_df,
    _lsh_bands_df,
)

# ---------------------------------------------------------------------------
# join_skew_diagnose

# Target rows per post-salt task. 4096 keeps the salt factors
# interesting at test SFs; a production run sizes this to
# rows-per-task that fit an executor core's time budget (e.g. ~5e7
# for 100-byte rows at 5 GB/task).
_SKEW_TARGET = 4096


@register(
    "join_skew_diagnose",
    oracle=(
        "WITH lc AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS nl "
        "FROM events GROUP BY user_id), "
        "rc AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nr "
        "FROM orders GROUP BY o_custkey), "
        "pk AS (SELECT COALESCE(lc.k, rc.k) AS k, "
        "COALESCE(nl, 0) AS nl, COALESCE(nr, 0) AS nr, "
        "LEAST(COALESCE(nl, 0), 2147483647) * "
        "LEAST(COALESCE(nr, 0), 2147483647) AS out_rows "
        "FROM lc FULL OUTER JOIN rc ON lc.k = rc.k), "
        "b AS (SELECT CASE WHEN out_rows = 0 THEN CAST(-1 AS BIGINT) "
        "ELSE CAST(floor(log2(CAST(out_rows AS DOUBLE))) AS BIGINT) END "
        "AS vol_bin, nl, nr, out_rows FROM pk), "
        "g AS (SELECT vol_bin, CAST(COUNT(*) AS BIGINT) AS n_keys, "
        "CAST(SUM(nl + nr) AS BIGINT) AS shuffle_rows, "
        "CAST(SUM(out_rows) AS BIGINT) AS out_rows_total, "
        "CAST(MAX(out_rows) AS BIGINT) AS out_rows_max FROM b "
        "GROUP BY vol_bin) "
        "SELECT vol_bin, n_keys, shuffle_rows, out_rows_total, "
        "out_rows_max, "
        "CAST(out_rows_total * 1000 // GREATEST(1, "
        "SUM(out_rows_total) OVER ()) AS BIGINT) AS share_pml, "
        f"CAST((out_rows_max + {_SKEW_TARGET - 1}) // {_SKEW_TARGET} "
        "AS BIGINT) AS salt_factor "
        "FROM g ORDER BY vol_bin"
    ),
    doc=(
        "JOIN-SKEW DIAGNOSIS — the shuffle-volume histogram you run "
        "BEFORE committing to join_salted_skew or trusting AQE: for "
        "the planned equi-join events.user_id = orders.o_custkey, "
        "per-key output volume is n_left × n_right (both sides "
        "multi-row — the fan-out product, not a degree count, which "
        "is what separates this from graph_degree_distribution's "
        "single-relation co-occurrence audit). Keys present on only "
        "one side land in bin -1 (they still shuffle — shuffle_rows "
        "counts both sides — but produce no output). Per log2 bin: "
        "key count, shuffle-in rows, total/max output rows, output "
        "share in per-mille, and the salt factor the heaviest key "
        f"needs at {_SKEW_TARGET} rows/task (ceil-division, integer "
        "exact; production sizes the target to executor-core "
        "capacity). log2 binning follows the "
        "graph_degree_distribution parity precedent (exact-integer "
        "doubles; power-of-2 boundaries exactly representable). "
        "Scale shape: two map-side-combinable per-key count "
        "aggregates (each output |keys|, not |rows|), a key-keyed "
        "full outer join of the two COUNT TABLES (never the fact "
        "tables), then a bins-sized rollup — the whole diagnostic "
        "costs two fact scans and shuffles only key cardinalities. "
        "The share window runs over the ~64-row bin table. Output: "
        "one row per occupied bin. Overflow posture (ADVICE r11): "
        "per-key counts are capped at 2^31-1 inside the product in "
        "BOTH arms — identical below the cap, and a key with >2 "
        "billion rows per side saturates bins/salt instead of "
        "silently wrapping in Spark's non-ANSI BIGINT while DuckDB "
        "errors. share_pml's x1000 keeps exact integer division "
        "(cross-engine double-cast rounding differs) and therefore "
        "carries a ~9.2e15 total-output-rows ceiling, documented "
        "here: a diagnosed join past that ceiling is unrunnable "
        "anyway, and the failure is a loud DuckDB error, not a "
        "silent Spark wrap."
    ),
    tags=("diagnostic",),
)
def join_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r20: no ensure_parallelism — both inputs feed an immediate
    # map-side-combinable groupBy, so the round-robin repartition was
    # a full extra exchange of each table for zero parallelism gain
    # (the join_interval_overlap finding).
    ev = t(spark, sf_dir, "events")
    od = t(spark, sf_dir, "orders")
    lc = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").alias("nl")
    )
    rc = od.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("nr")
    )
    pk = (
        lc.join(rc, "k", "full_outer")
        .select(
            F.coalesce(F.col("nl"), F.lit(0)).alias("nl"),
            F.coalesce(F.col("nr"), F.lit(0)).alias("nr"),
        )
        .withColumn(
            "out_rows",
            F.least(F.col("nl"), F.lit(2147483647))
            * F.least(F.col("nr"), F.lit(2147483647)),
        )
    )
    b = pk.withColumn(
        "vol_bin",
        F.when(F.col("out_rows") == 0, F.lit(-1).cast("long")).otherwise(
            F.floor(F.log2(F.col("out_rows").cast("double"))).cast("long")
        ),
    )
    g = b.groupBy("vol_bin").agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("nl") + F.col("nr")).alias("shuffle_rows"),
        F.sum("out_rows").alias("out_rows_total"),
        F.max("out_rows").alias("out_rows_max"),
    )
    # The share window runs over the bins table (<= ~64 rows) — the
    # single-partition window is on a result-sized frame, same class
    # as the one-row report windows elsewhere in the repo.
    from pyspark.sql import Window

    tot = F.sum("out_rows_total").over(
        Window.partitionBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        g.select(
            "vol_bin",
            "n_keys",
            "shuffle_rows",
            "out_rows_total",
            "out_rows_max",
            F.expr(
                "CAST(out_rows_total * 1000 AS BIGINT)"
            ).alias("_num"),
            tot.alias("_tot"),
            F.expr(
                f"CAST((out_rows_max + {_SKEW_TARGET - 1}) "
                f"DIV {_SKEW_TARGET} AS BIGINT)"
            ).alias("salt_factor"),
        )
        .withColumn(
            "share_pml",
            F.expr("CAST(_num DIV GREATEST(1L, _tot) AS BIGINT)"),
        )
        .select(
            "vol_bin",
            "n_keys",
            "shuffle_rows",
            "out_rows_total",
            "out_rows_max",
            "share_pml",
            "salt_factor",
        )
        .orderBy("vol_bin")
    )


# ---------------------------------------------------------------------------
# dedup_minhash_incremental

# Same batch convention as etl_dedup_incremental (doc_id % 3 = 0 is
# the incoming crawl; the rest is the already-admitted corpus) and
# the same verified-Jaccard threshold as dedup_near_keep (0.05 over
# bigram shingle sets).
_INC_JACCARD = 0.05

_INC_VERIFY_SQL = (
    "CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / "
    "(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)))"
)


@register(
    "dedup_minhash_incremental",
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
        "cb AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
        "FROM nw x JOIN nw y ON x.band = y.band AND x.bucket = y.bucket "
        "AND x.doc_id < y.doc_id), "
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
        "INCREMENTAL NEAR-DUP ADMISSION — the MinHash sibling of "
        "etl_dedup_incremental (which admits on EXACT fingerprints "
        "only): the incoming batch (doc_id % 3 = 0, the shared "
        "batch convention) is checked against the already-admitted "
        "corpus's LSH band index AND against itself. Candidates come "
        "from (band, bucket) equi-joins (the dedup_minhash_lsh front "
        "half — never all-pairs), every candidate is verified with "
        f"exact bigram-set Jaccard >= {_INC_JACCARD} (the "
        "dedup_near_keep threshold), and each batch doc gets a "
        "verdict: dup_corpus (a verified corpus partner exists; "
        "partner_id = min such), else dup_batch (a verified SMALLER "
        "batch doc_id exists — the greedy keep-first pairwise rule, "
        "same non-transitive tradeoff dedup_near_keep documents), "
        "else admit (partner_id = -1). Corpus duplicates take "
        "precedence so re-crawls always point at the canonical "
        "corpus doc. Scale shape: in production the index side IS "
        "the persisted (band, bucket, doc_id) table maintained by "
        "prior runs — this op reads it, never recomputes corpus "
        "signatures (here both sides derive from one shared bands "
        "plan for testability); batch bands are batch-sized "
        "(broadcastable), candidate joins are bucket-keyed and "
        "candidate-bounded, verification joins only the candidate "
        "list back to shingle sets. The admitted rows' band entries "
        "are exactly what a writer appends to the index — one "
        "cycle of write-audit-publish away from pipe_ingest_audited."
    ),
    tags=("dedup",),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _lsh_bands_df(spark, sf_dir).localCheckpoint()
    idx = bands.filter(F.col("doc_id") % 3 != 0)
    nw = bands.filter(F.col("doc_id") % 3 == 0)
    sets = _bigram_sets_df(spark, sf_dir)
    a = sets.select(F.col("doc_id").alias("_ida"), F.col("bg").alias("bg_a"))
    bset = sets.select(F.col("doc_id").alias("_idb"), F.col("bg").alias("bg_b"))
    inter = F.size(F.array_intersect(F.col("bg_a"), F.col("bg_b")))
    union = F.size(F.col("bg_a")) + F.size(F.col("bg_b")) - inter
    jac_ok = (inter.cast("double") / union) >= _INC_JACCARD

    n, i = nw.alias("n"), idx.alias("i")
    cc = (
        n.join(
            i,
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("i.doc_id").alias("old_id")
        )
        .distinct()
    )
    # EAGER checkpoints (r13): vc/vb BROADCAST into the verdict join
    # below, and their subtrees are the full LSH candidate + exact
    # bigram-verify pipelines (three shuffle joins each). Those must
    # run as normal jobs, never inside a broadcast future
    # (audit_broadcast_subtrees — the dedup_lsh_tune class). The
    # VALUES are per-batch-doc verdict rows — broadcast-bounded by
    # the batch size.
    vc = (
        cc.join(a, cc["new_id"] == a["_ida"])
        .join(bset, cc["old_id"] == bset["_idb"])
        .filter(jac_ok)
        .groupBy("new_id")
        .agg(F.min("old_id").cast("long").alias("pc"))
        .localCheckpoint(eager=True)
    )
    cb = bucket_pairs(nw)
    vb = (
        cb.join(a, cb["doc_a"] == a["_ida"])
        .join(bset, cb["doc_b"] == bset["_idb"])
        .filter(jac_ok)
        .groupBy("doc_b")
        .agg(F.min("doc_a").cast("long").alias("pb"))
        .withColumnRenamed("doc_b", "new_id")
        .localCheckpoint(eager=True)
    )
    batch = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    ).select("doc_id")
    return (
        batch.join(
            F.broadcast(vc.withColumnRenamed("new_id", "doc_id")),
            "doc_id",
            "left",
        )
        .join(
            F.broadcast(vb.withColumnRenamed("new_id", "doc_id")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.when(F.col("pc").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("pb").isNotNull(), F.lit("dup_batch"))
            .otherwise(F.lit("admit"))
            .alias("verdict"),
            F.coalesce(F.col("pc"), F.col("pb"), F.lit(-1))
            .cast("long")
            .alias("partner_id"),
        )
    )


# ---------------------------------------------------------------------------
# sim_ann_index_drift

# Snapshot convention mirrors the dedup batch rule on the embeddings
# table: vec_id % 3 <> 0 is yesterday's corpus (the one the stale
# index was trained on), the full table is today's. 16 shared seeds
# (the first 16 vec_ids present in BOTH snapshots: vec_id < 24 and
# vec_id % 3 <> 0) isolate DATA drift from seed choice.
_DRIFT_SEED_LIMIT = 24  # 24 ids minus the 8 multiples of 3 = 16 seeds

_DOT_SQL = (
    "list_reduce(list_transform(range(len({a})), "
    "i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)), "
    "(x, y) -> x + y)"
)


def _drift_assign_cte(name: str, src: str, cent: str) -> str:
    """Argmax-cosine assignment of ``src`` vectors to ``cent`` —
    ml_iter._assign_cte parameterized by the vector source (the stale
    index assigns yesterday's corpus, the drift scan assigns today's;
    citing ml_iter.py:47).

    Zero norms are excluded on BOTH sides (r16): a zero CENTROID
    makes every cosine NaN and the two engines break the NaN tie
    differently (DuckDB's ORDER BY cos DESC sorts NaN first, Spark's
    struct array_min picks the best finite); a zero VECTOR divides by
    zero, which Spark's ANSI mode raises on outright. Cosine to/from
    the zero vector is undefined, so both engines drop such rows from
    assignment — the Spark side of every consumer filters the same
    two predicates (centroids before packing, vectors before the
    broadcast scan)."""
    cos = (
        _DOT_SQL.format(a="v.embedding", b="c.c_emb") + " / (v.nrm * c.c_nrm)"
    )
    return (
        f"{name} AS (SELECT vec_id, cid FROM ("
        f"SELECT v.vec_id, c.cid, row_number() OVER ("
        f"PARTITION BY v.vec_id ORDER BY {cos} DESC, c.cid) AS rn "
        f"FROM {src} v CROSS JOIN {cent} c "
        "WHERE c.c_nrm > 0 AND v.nrm > 0) WHERE rn = 1)"
    )


def _drift_update_ctes(prefix: str, assign: str) -> str:
    """Per-dim sorted-fold means over the assigned vectors
    (ml_iter._update_ctes verbatim shape, citing ml_iter.py:57 — the
    assignment set already restricts which vectors contribute, so the
    vector join is always against the full ``e``)."""
    mean = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_sort(list(CAST(e.embedding[i+1] AS DOUBLE)))), (x, y) -> x + y) "
        "/ COUNT(*)"
    )
    emb = "list(m ORDER BY pos)"
    return (
        f"{prefix}m AS (SELECT a.cid, t.i AS pos, {mean} AS m "
        f"FROM {assign} a JOIN e ON e.vec_id = a.vec_id, range(64) t(i) "
        f"GROUP BY a.cid, t.i), "
        f"{prefix} AS (SELECT cid, {emb} AS c_emb, "
        f"sqrt({_DOT_SQL.format(a=emb, b=emb)}) AS c_nrm "
        f"FROM {prefix}m GROUP BY cid)"
    )


_DRIFT_DISP_SQL = (
    "list_reduce(list_transform(range(64), "
    "i -> (CAST(o.c_emb[i+1] AS DOUBLE) - CAST(n.c_emb[i+1] AS DOUBLE)) "
    "* (CAST(o.c_emb[i+1] AS DOUBLE) - CAST(n.c_emb[i+1] AS DOUBLE))), "
    "(x, y) -> x + y)"
)


@register(
    "sim_ann_index_drift",
    oracle=(
        # fixed-dim contract (r17): the per-dim update folds hardcode 64
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
        + _drift_assign_cte("a_new", "e", "cent0")
        + ", "
        + _drift_update_ctes("cnew", "a_new")
        + ", "
        + _drift_assign_cte("stale", "e", "cold")
        + ", "
        + _drift_assign_cte("fresh", "e", "cnew")
        + ", "
        "cnt AS (SELECT s.cid AS scid, f.cid AS fcid "
        "FROM stale s JOIN fresh f ON f.vec_id = s.vec_id), "
        "agg AS (SELECT cid, "
        "CAST(SUM(CASE WHEN src = 's' THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_stale, "
        "CAST(SUM(CASE WHEN src = 'f' THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_fresh, "
        "CAST(SUM(CASE WHEN src = 'b' THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_stayed FROM ("
        "SELECT scid AS cid, 's' AS src FROM cnt "
        "UNION ALL SELECT fcid, 'f' FROM cnt "
        "UNION ALL SELECT scid, 'b' FROM cnt WHERE scid = fcid) "
        "GROUP BY cid) "
        "SELECT c0.cid, "
        "COALESCE(g.n_stale, 0) AS n_stale, "
        "COALESCE(g.n_fresh, 0) AS n_fresh, "
        "COALESCE(g.n_stayed, 0) AS n_stayed, "
        "CASE WHEN o.cid IS NULL OR n.cid IS NULL THEN CAST(-1 AS BIGINT) "
        f"ELSE CAST(round(CAST(CAST({_DRIFT_DISP_SQL} * 1000000 "
        "AS VARCHAR) AS DECIMAL(38,18)), 0) AS BIGINT) END "
        "AS sq_disp_u "
        "FROM cent0 c0 "
        "LEFT JOIN agg g ON g.cid = c0.cid "
        "LEFT JOIN cold o ON o.cid = c0.cid "
        "LEFT JOIN cnew n ON n.cid = c0.cid "
        "ORDER BY c0.cid"
    ),
    doc=(
        "ANN INDEX DRIFT — the re-train scheduler's input, extending "
        "sim_ann_recall_eval's one-index harness to the "
        "two-generation question every growing-corpus deployment "
        "asks: the STALE index (one Lloyd update over yesterday's "
        "corpus, vec_id % 3 <> 0) and the FRESH index (same update "
        "over today's full corpus) are built from identical seeds "
        "(the first 16 vec_ids present in both snapshots) so the "
        "comparison isolates data drift from seed choice. Today's "
        "corpus is then assigned under BOTH centroid sets; per seed "
        "centroid the output reports stale/fresh membership counts, "
        "the stable overlap (n_stayed — its complement over the "
        "corpus is the churn a probe-partition cache invalidates), "
        "and the squared L2 displacement between the two centroids "
        "in exact micro-units (-1 when a generation left the "
        "centroid empty). Determinism: the ml_iter discipline "
        "verbatim — order-pinned sorted-fold means, sequential-fold "
        "dot products, (cosine DESC, cid) tie-break. Scale shape: "
        "assignments are map-side packed-array argmax over broadcast "
        "centroids (zero corpus shuffle, the sim_ann_ivf plan); the "
        "only shuffles are the (cid, pos) mean aggregates, bounded "
        "by k x dim, and the final k-row report join. In production "
        "the stale side is a METADATA read (the persisted centroid "
        "table), not a rebuild — both generations are rebuilt here "
        "so one registered plan certifies the whole comparison."
    ),
    tags=("similarity",),
)
def sim_ann_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = ensure_parallelism(t(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") == 64  # fixed-dim contract (r17)
    ).select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    ).localCheckpoint()
    eo = e.filter(F.col("vec_id") % 3 != 0)
    cent0 = e.filter(
        (F.col("vec_id") < _DRIFT_SEED_LIMIT) & (F.col("vec_id") % 3 != 0)
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )

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

    # Eager-checkpoint both centroid sets: each feeds a broadcast
    # (pack_centroids) — the r10 lesson: lazily-checkpointed subplans
    # consumed by broadcasts get raced into concurrent recomputes.
    cold = update(assign(eo, cent0)).localCheckpoint()
    cnew = update(assign(e, cent0)).localCheckpoint()
    stale = assign(e, cold).withColumnRenamed("cid", "scid")
    fresh = assign(e, cnew).withColumnRenamed("cid", "fcid")
    cnt = stale.join(fresh, "vec_id").localCheckpoint()
    agg = (
        cnt.select(F.col("scid").alias("cid"), F.lit("s").alias("src"))
        .unionAll(cnt.select(F.col("fcid").alias("cid"), F.lit("f")))
        .unionAll(
            cnt.filter(F.col("scid") == F.col("fcid")).select(
                F.col("scid").alias("cid"), F.lit("b")
            )
        )
        .groupBy("cid")
        .agg(
            F.sum(F.when(F.col("src") == "s", 1).otherwise(0))
            .cast("long")
            .alias("n_stale"),
            F.sum(F.when(F.col("src") == "f", 1).otherwise(0))
            .cast("long")
            .alias("n_fresh"),
            F.sum(F.when(F.col("src") == "b", 1).otherwise(0))
            .cast("long")
            .alias("n_stayed"),
        )
    )
    disp = F.aggregate(
        F.zip_with(
            F.col("o_emb"),
            F.col("n_emb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cent0.select("cid")
        .join(F.broadcast(agg), "cid", "left")
        .join(
            F.broadcast(cold.select("cid", F.col("c_emb").alias("o_emb"))),
            "cid",
            "left",
        )
        .join(
            F.broadcast(cnew.select("cid", F.col("c_emb").alias("n_emb"))),
            "cid",
            "left",
        )
        .select(
            "cid",
            F.coalesce(F.col("n_stale"), F.lit(0)).cast("long").alias("n_stale"),
            F.coalesce(F.col("n_fresh"), F.lit(0)).cast("long").alias("n_fresh"),
            F.coalesce(F.col("n_stayed"), F.lit(0))
            .cast("long")
            .alias("n_stayed"),
            F.when(
                F.col("o_emb").isNull() | F.col("n_emb").isNull(),
                F.lit(-1).cast("long"),
            )
            .otherwise(F.round(disp * 1_000_000, 0).cast("long"))
            .alias("sq_disp_u"),
        )
        .orderBy("cid")
    )
