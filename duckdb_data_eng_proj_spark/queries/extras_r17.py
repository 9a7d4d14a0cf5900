"""Round-17 operators — the two gap-grep survivors of the r17 queue
(ts_downsample_m4 stays rejected from r16; ts_seasonal_profile was
re-derived by this round's grep and REJECTED as already implemented
— extras_r10b.py:45 — which is the §9.0b grep working as intended).

- vec_matryoshka_search — coarse-to-fine retrieval on DIMENSIONAL
  PREFIXES (Matryoshka Representation Learning, Kusupati et al. 2022,
  public): stage 1 ranks by cosine over the first 16 dims only, stage
  2 rescores the survivors with the full 64-dim cosine. The FOURTH
  embedding-compression family next to PQ (codebooks), binary (sign
  bits) and int8 (scalar) — compression by truncation, no codebook to
  train, and the coarse scan reads 16/64 of the bytes.
- mm_scene_cut — temporal video segmentation over the REAL
  YUV4MPEG2 codec path (operators/multimodal.py encode_y4m /
  decode_y4m): per-frame full-plane mean luma, scene cut where the
  consecutive-frame jump exceeds a threshold. The first TEMPORAL
  analysis in the multimodal family (mm_frame_sample samples frames;
  this one relates them).

Reference parity: the reference repo (DuckDB loan-ETL take-home) has
no vector or video surface — these extend the similarity/multimodal
families the brief grades as first-class, from public semantics only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import ensure_parallelism
from duckdb_data_eng_proj_spark.operators.vectors import dot, dot_sql, norm
from duckdb_data_eng_proj_spark.queries.registry import register, t

# ---------------------------------------------------------------------------
# vec_matryoshka_search

_MRL_P = 16  # prefix dims for the coarse stage
_MRL_C = 24  # coarse candidates kept per query
_MRL_K = 5  # final top-k
_MRL_DIM = 64  # fixed-dim contract (the PQ-family rule)


# The hardened helper (least()-prefix fold) — NOT a local copy: a
# same-named divergent copy here was safe only because the fixed-dim
# filter runs first, and silently reintroduced the zip_with/NULL-dot
# class on any future reuse without that filter (ADVICE r17).


def _mrl_oracle() -> str:
    pdot = dot_sql(f"a.embedding[1:{_MRL_P}]", f"b.embedding[1:{_MRL_P}]")
    return (
        # fixed-dim contract + zero-norm guards on BOTH norms (full
        # AND prefix): a vector whose first 16 dims are all zero has
        # no defined coarse cosine even when its full norm is fine
        "WITH e AS (SELECT vec_id, embedding, "
        f"sqrt({dot_sql('embedding', 'embedding')}) AS nrm, "
        f"sqrt({dot_sql(f'embedding[1:{_MRL_P}]', f'embedding[1:{_MRL_P}]')}) AS pnrm "
        f"FROM embeddings WHERE len(embedding) = {_MRL_DIM}), "
        "ee AS (SELECT * FROM e WHERE nrm > 0 AND pnrm > 0), "
        "coarse AS (SELECT query_id, vec_id, embedding, nrm, q_emb, q_nrm "
        "FROM (SELECT a.vec_id AS query_id, b.vec_id, b.embedding, b.nrm, "
        "a.embedding AS q_emb, a.nrm AS q_nrm, "
        "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
        f"{pdot} / (a.pnrm * b.pnrm) DESC, b.vec_id) AS crk "
        "FROM ee a JOIN ee b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) "
        f"WHERE crk <= {_MRL_C}), "
        "fine AS (SELECT query_id, vec_id AS neighbor_id, "
        f"{dot_sql('q_emb', 'embedding')} / (q_nrm * nrm) AS cos_raw, "
        "row_number() OVER (PARTITION BY query_id ORDER BY "
        f"{dot_sql('q_emb', 'embedding')} / (q_nrm * nrm) DESC, vec_id) AS rank "
        "FROM coarse) "
        "SELECT query_id, neighbor_id, "
        # shortest-repr display round (the r17 F.round rule)
        "CAST(round(CAST(CAST(cos_raw AS VARCHAR) AS DECIMAL(38,18)), 4) "
        "AS DOUBLE) AS cos_sim, CAST(rank AS BIGINT) AS rank "
        f"FROM fine WHERE rank <= {_MRL_K}"
    )


@register(
    "vec_matryoshka_search",
    oracle=_mrl_oracle(),
    doc=(
        "MATRYOSHKA (prefix-dimension) two-stage retrieval — the "
        "fourth embedding-compression family after PQ codebooks "
        f"(vec_pq_*), sign bits (vec_binary_quantize) and int8 "
        f"scalars (vec_quantize_int8): stage 1 ranks the corpus by "
        f"cosine over the FIRST {_MRL_P} of {_MRL_DIM} dims only and "
        f"keeps C={_MRL_C} candidates per query; stage 2 rescores "
        f"those with the full-dimension cosine and emits top-{_MRL_K}. "
        "MRL-trained embeddings front-load information into the "
        "prefix (Kusupati et al. 2022, public), so truncation IS the "
        "coarse quantizer — no codebook to train or drift-repair. "
        "Determinism: both stages fold dots sequentially over "
        "identical element orders (bit-identical doubles), ties to "
        "the smallest vec_id; the fixed-dim contract and the DOUBLE "
        "zero-norm guard (full AND prefix norm — a vector can be "
        "zero in its first 16 dims while its full norm is fine) are "
        "symmetric on both engines, the PQ/hyperplane-family rules. "
        "Scale shape: ONE broadcast of the 10-query batch, one "
        "corpus-wide coarse scan that reads 16/64 of the embedding "
        "bytes (at 100 TB the prefix is its own column/index — a 4x "
        "scan cut), one query-keyed rank exchange, and the rescore "
        "touches only C x |queries| rows — the same shape "
        "WindowGroupLimit keeps partial. The recall-vs-cost dial is "
        "C, exactly nprobe in the IVF family."
    ),
    tags=("similarity",),
)
def vec_matryoshka_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mrl_df(spark, sf_dir, _MRL_C)


def _mrl_df(spark: SparkSession, sf_dir: str, c: int) -> DataFrame:
    """``c`` is the coarse-candidate budget — parameterized so the
    law test can drive c -> corpus size, where the two-stage search
    must degrade EXACTLY to brute force (tests/test_r17_laws.py)."""
    prefix = F.slice(F.col("embedding"), 1, _MRL_P)

    def cols(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.size("embedding") == _MRL_DIM)
            .select(
                "vec_id",
                "embedding",
                norm(F.col("embedding")).alias("nrm"),
                norm(prefix).alias("pnrm"),
                prefix.alias("pemb"),
            )
            .filter((F.col("nrm") > 0) & (F.col("pnrm") > 0))
        )

    # corpus side widened to core count (the dot-product scan is the
    # hot stage); the 10-row query batch reads the file directly — a
    # repartition before a broadcast would be a wasted exchange
    en = cols(ensure_parallelism(t(spark, sf_dir, "embeddings")))
    q = cols(t(spark, sf_dir, "embeddings")).filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("pemb").alias("q_pemb"),
        F.col("pnrm").alias("q_pnrm"),
    )
    cos_p = dot(F.col("q_pemb"), F.col("pemb")) / (
        F.col("q_pnrm") * F.col("pnrm")
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("cos_p"), F.asc("vec_id"))
    coarse = (
        F.broadcast(q)
        .join(en, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "embedding", "nrm", "q_emb", "q_nrm", cos_p.alias("cos_p"))
        .withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= c)
    )
    cos_f = dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * F.col("nrm")
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        coarse.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos_f.alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= _MRL_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 4).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# mm_scene_cut

_SCENE_THR = 64  # mean-luma jump that counts as a scene cut

_SCENE_SCHEMA = (
    "doc_id long, n_frames long, n_cuts long, first_cut long, cut_idx_sum long"
)


def _scene_oracle() -> str:
    # frame k's constant Y plane is (seed + 11k) % 256
    # (operators/multimodal.encode_y4m; seed/n derive from
    # doc_id exactly as synthesize_y4m_media builds them)
    lum = "(seed + 11 * k) % 256"
    lum1 = "(seed + 11 * (k + 1)) % 256"
    return (
        "WITH v AS (SELECT doc_id, doc_id % 90 + 1 AS n, "
        "(doc_id * 7) % 256 AS seed FROM documents), "
        "j AS (SELECT doc_id, n, seed, unnest(range(n - 1)) AS k FROM v), "
        f"d AS (SELECT doc_id, n, k + 1 AS cut_idx, "
        f"abs(({lum1}) - ({lum})) AS jump FROM j), "
        f"c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cuts, "
        "CAST(MIN(cut_idx) AS BIGINT) AS first_cut, "
        "CAST(SUM(cut_idx) AS BIGINT) AS cut_idx_sum "
        f"FROM d WHERE jump > {_SCENE_THR} GROUP BY doc_id) "
        "SELECT v.doc_id, CAST(v.n AS BIGINT) AS n_frames, "
        "COALESCE(c.n_cuts, 0) AS n_cuts, c.first_cut, "
        "COALESCE(c.cut_idx_sum, 0) AS cut_idx_sum "
        "FROM v LEFT JOIN c ON c.doc_id = v.doc_id"
    )


@register(
    "mm_scene_cut",
    oracle=_scene_oracle(),
    doc=(
        "VIDEO SCENE-CUT DETECTION over the real YUV4MPEG2 codec path "
        "— the first TEMPORAL analysis in the multimodal family "
        "(mm_frame_sample samples frames independently; this one "
        "relates consecutive frames): synthesize the doc_id-keyed Y4M "
        "payload, REAL-decode EVERY frame's full Y plane "
        "(operators/multimodal.decode_y4m, every_n=1), and "
        f"emit a cut wherever the mean-luma jump exceeds {_SCENE_THR} "
        "— per doc the cut count, first cut index and cut-index "
        "checksum. On the fixture's luma ramp ((seed+11k) mod 256) "
        "cuts fire exactly at the mod-256 wraps (jump 245 vs the "
        "in-ramp 11), so the oracle replays every frame's luma "
        "closed-form from doc_id and a hash match proves the whole "
        "encode -> parse -> full-plane-scan -> diff chain "
        "frame-exactly. Docs with one frame have no transitions "
        "(n_cuts 0, first_cut NULL — both engines). Scale shape: two "
        "narrow Arrow map stages (synthesize, decode+diff — the "
        "per-doc aggregation happens INSIDE the decode batch, one "
        "payload per row), ZERO exchanges plan-pinned; at 100 TB "
        "this is a pure per-payload map over the binary column. "
        "Inter-frame compressed codecs (H.264/VP9) stay on the "
        "mm_decode_stub template."
    ),
    tags=("multimodal",),
)
def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        decode,
        decode_y4m,
        synthesize_y4m_media,
    )

    def scene_cuts(payload: bytes) -> dict:
        d = decode_y4m(payload, every_n=1)
        # constant planes make every mean an exact integer
        lums = [int(d["frame_means"][k]) for k in range(d["n_frames"])]
        cuts = [
            k + 1
            for k in range(len(lums) - 1)
            if abs(lums[k + 1] - lums[k]) > _SCENE_THR
        ]
        return {
            "n_frames": d["n_frames"],
            "n_cuts": len(cuts),
            "first_cut": cuts[0] if cuts else None,
            "cut_idx_sum": sum(cuts),
        }

    media = synthesize_y4m_media(t(spark, sf_dir, "documents"))
    return decode(media, scene_cuts, _SCENE_SCHEMA)
