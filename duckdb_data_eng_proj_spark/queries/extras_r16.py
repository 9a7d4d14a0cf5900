"""Round-16 operators — the two gap-grep survivors of the r16 queue
(the third candidate, agg_approx_topk, is SKIPPED: a space-saving /
heavy-hitters sketch has no deterministic cross-engine merge law —
its counters depend on arrival order, which Spark partitioning does
not fix — and the deterministic sketch family (cms/hll/kmv/bloom)
already covers bounded-state frequency estimation).

- mm_audio_resample — fractional-rate LINEAR PCM resample over the
  real RIFF/WAV codec path: deepens the audio family past
  mm_audio_features' 2:1 decimation exactly the way mm_image_resize
  deepened image past decode. Exact-integer lerp in the unsigned
  domain, so the oracle replays every output sample bit-exactly.
- ts_downsample_lttb — Largest-Triangle-Three-Buckets series
  downsampling (Steinarsson 2013, the standard visual-fidelity
  downsampler): per-user event series reduced to K=8 points. The
  bucket chain is SEQUENTIAL (each bucket's pick anchors the next),
  so the Spark side is a per-series Arrow recursion (applyInPandas,
  explicit width per the r14 rule) and the oracle UNROLLS the K−2=6
  bucket selections as chained CTEs — K is a fixed op parameter, so
  unrolling is exact, unlike data-dependent fixpoints.

Reference parity: the reference repo (DuckDB loan-ETL take-home) has
no audio or time-series surface — these extend the multimodal /
series families the brief grades as first-class, from public
semantics only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.timeseries import per_user
from duckdb_data_eng_proj_spark.queries.registry import register, t

# ---------------------------------------------------------------------------
# mm_audio_resample

# 8000 -> 12000 Hz: src step per output sample = 8000/12000 = 2/3
# reduced, i.e. output j reads source position 2j/3. A 3:2 upsample
# exercises BOTH lerp branches (r = 0 hits every third sample, r in
# {1, 2} interpolates) — a pure decimation (mm_audio_features) never
# interpolates at all.
_RS_DST_RATE = 12000
_RS_NUM, _RS_DEN = 2, 3  # reduced src/dst ratio


def _resample_oracle() -> str:
    """Closed-form replay of the resample chain: the fixture waveform
    is u(k) = (seed + 97k) mod 2^16 in the unsigned domain (the +32768
    sign shift cancels against the codec's), so every OUTPUT sample is
    the non-negative integer lerp (u(i)·(D−r) + u(i+1)·r) // D at
    i = (N·j) // D, r = (N·j) mod D — DuckDB derives all of it from
    doc_id; nothing is precomputed Python-side. All operands are
    non-negative BIGINTs, so // here and the codec's floor division
    agree exactly (the signed form would floor a negative delta,
    which Spark DIV truncates differently)."""
    n, d = _RS_NUM, _RS_DEN
    u_i = f"(seed + 97 * (({n} * j) // {d})) % 65536"
    u_i1 = f"(seed + 97 * (({n} * j) // {d} + 1)) % 65536"
    r = f"({n} * j) % {d}"
    out_u = (
        f"CASE WHEN {r} = 0 THEN {u_i} "
        f"ELSE (({u_i}) * ({d} - {r}) + ({u_i1}) * ({r})) // {d} END"
    )
    return (
        "WITH v AS (SELECT doc_id, doc_id % 400 + 16 AS n, "
        "(doc_id * 131) % 65536 AS seed FROM documents), "
        f"mm AS (SELECT doc_id, n, seed, ((n - 1) * {d}) // {n} + 1 AS m "
        "FROM v), "
        "jj AS (SELECT doc_id, n, seed, m, unnest(range(m)) AS j FROM mm), "
        f"oo AS (SELECT doc_id, n, m, {out_u} AS ou FROM jj) "
        "SELECT doc_id, CAST(8000 AS INT) AS src_rate, "
        f"CAST({_RS_DST_RATE} AS INT) AS dst_rate, "
        "CAST(n AS BIGINT) AS n_in, CAST(m AS BIGINT) AS n_out, "
        "CAST(SUM(ou) AS BIGINT) AS sum_u_out, "
        "CAST(44 + 2 * m AS BIGINT) AS rs_bytes "
        "FROM oo GROUP BY doc_id, n, m"
    )


@register(
    "mm_audio_resample",
    oracle=_resample_oracle(),
    doc=(
        "AUDIO RESAMPLE PLUMBING — fractional-rate (8000→12000 Hz, a "
        "3:2 upsample) LINEAR PCM resample over the real RIFF/WAV "
        "codec path: synthesize the varying-waveform WAV "
        "(mm_audio_features' fixture, operators/multimodal.py:"
        "encode_wav_wave), wave-DECODE it, lerp every output sample "
        "with EXACT INTEGER arithmetic in the unsigned domain "
        "((u[i]·(D−r) + u[i+1]·r) // D — all operands non-negative, "
        "so floor and truncate agree cross-engine), RE-ENCODE a real "
        "WAV at the destination rate, re-decode THAT, and report "
        "source/destination sample counts, the unsigned output-sample "
        "sum, and the re-encoded byte size. Deepens the audio family "
        "past mm_audio_features' 2:1 decimation (which never "
        "interpolates) the way mm_image_resize deepened image past "
        "decode; the 3:2 ratio exercises both lerp branches. The "
        "oracle re-derives every output sample closed-form from the "
        "fixture recurrence, so a hash match proves encode → decode → "
        "resample → re-encode → re-decode sample-exactly. Scale "
        "shape: two narrow Arrow map stages (synthesize, resample), "
        "zero exchange (plan-pinned) — at 100 TB this is a pure "
        "per-payload map over the binary column, partitioned by the "
        "source layout. Compressed audio (MP3/AAC) remains on the "
        "mm_decode_stub template."
    ),
    tags=("multimodal",),
)
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        extract_audio_resample,
        synthesize_wav_wave_media,
    )

    return extract_audio_resample(
        synthesize_wav_wave_media(t(spark, sf_dir, "documents")),
        _RS_DST_RATE,
    )


# ---------------------------------------------------------------------------
# ts_downsample_lttb

_LTTB_K = 8  # points kept per series (first + 6 bucket picks + last)
_LTTB_B = _LTTB_K - 2  # middle buckets

# Triangle score with the next-bucket "average point" kept RATIONAL:
# for anchor a, candidate p, next-bucket centroid (sx/c, sy/c), twice
# the triangle area times c is
#   |(a.x·c − sx)·(p.y − a.y) − (a.x − p.x)·(sy − a.y·c)|
# — pure BIGINT (x = seconds from the series start ≤ ~3e6, y = value
# cents, c ≤ bucket size), so the argmax is exact on both engines.
# Ties break to the earliest point (lowest idx).
_LTTB_SCORE = (
    "abs((a.x * t.c - t.sx) * (m.y - a.y) - (a.x - m.x) * (t.sy - a.y * t.c))"
)


def _lttb_oracle() -> str:
    b_expr = f"((idx - 1) * {_LTTB_B}) // (n - 2)"
    ctes = [
        # idx/n per user ordered by (ts, event_id); x relative to the
        # series start (date_diff('second') == the codec's cast-long
        # diff, the sessionize-proven pairing — and tz-invariant)
        "pts AS (SELECT user_id, ts, event_id, "
        "CAST(floor(value * 100) AS BIGINT) AS y, "
        "CAST(row_number() OVER w - 1 AS BIGINT) AS idx, "
        "CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n, "
        "CAST(date_diff('second', MIN(ts) OVER (PARTITION BY user_id), ts) "
        "AS BIGINT) AS x "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))",
        f"sml AS (SELECT user_id, ts, y FROM pts WHERE n <= {_LTTB_K})",
        f"big AS (SELECT * FROM pts WHERE n > {_LTTB_K})",
        "mid AS (SELECT user_id, ts, y, x, idx, "
        f"{b_expr} AS b FROM big WHERE idx >= 1 AND idx <= n - 2)",
        "cent AS (SELECT user_id, b, CAST(COUNT(*) AS BIGINT) AS c, "
        "SUM(x) AS sx, SUM(y) AS sy FROM mid GROUP BY user_id, b)",
        "p0 AS (SELECT user_id, ts, x, y FROM big WHERE idx = 0)",
        "pl AS (SELECT user_id, ts, x, y FROM big WHERE idx = n - 1)",
    ]
    for b in range(_LTTB_B):
        anchor = "p0" if b == 0 else f"s{b - 1}"
        if b < _LTTB_B - 1:
            target = (
                f"(SELECT user_id, c, sx, sy FROM cent WHERE b = {b + 1})"
            )
        else:  # last bucket aims at the final point (c = 1)
            target = (
                "(SELECT user_id, CAST(1 AS BIGINT) AS c, x AS sx, y AS sy "
                "FROM pl)"
            )
        ctes.append(
            f"s{b} AS (SELECT user_id, ts, x, y FROM ("
            "SELECT m.user_id, m.ts, m.x, m.y, row_number() OVER ("
            f"PARTITION BY m.user_id ORDER BY {_LTTB_SCORE} DESC, m.idx) AS rn "
            f"FROM mid m JOIN {anchor} a ON a.user_id = m.user_id "
            f"JOIN {target} t ON t.user_id = m.user_id "
            f"WHERE m.b = {b}) WHERE rn = 1)"
        )
    selects = (
        ["SELECT user_id, ts, y AS y_cents FROM sml",
         "SELECT user_id, ts, y AS y_cents FROM p0"]
        + [f"SELECT user_id, ts, y AS y_cents FROM s{b}" for b in range(_LTTB_B)]
        + ["SELECT user_id, ts, y AS y_cents FROM pl"]
    )
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


_LTTB_SCHEMA = "user_id long, ts timestamp, y_cents long"


def _lttb_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    n = len(pdf)
    if n <= _LTTB_K:
        sel = list(range(n))
    else:
        tl = pdf["tl"].tolist()
        xs = [v - tl[0] for v in tl]
        ys = pdf["y"].tolist()
        nm = n - 2
        buckets: list[list[int]] = [[] for _ in range(_LTTB_B)]
        for idx in range(1, n - 1):
            buckets[((idx - 1) * _LTTB_B) // nm].append(idx)
        sel = [0]
        a = 0
        for b in range(_LTTB_B):
            if b < _LTTB_B - 1:
                nxt = buckets[b + 1]
                c = len(nxt)
                sx = sum(xs[i] for i in nxt)
                sy = sum(ys[i] for i in nxt)
            else:
                c, sx, sy = 1, xs[n - 1], ys[n - 1]
            ax, ay = xs[a], ys[a]
            best, best_idx = -1, buckets[b][0]
            for idx in buckets[b]:
                score = abs(
                    (ax * c - sx) * (ys[idx] - ay)
                    - (ax - xs[idx]) * (sy - ay * c)
                )
                if score > best:
                    best, best_idx = score, idx
            sel.append(best_idx)
            a = best_idx
        sel.append(n - 1)
    out = pdf.iloc[sel][["user_id", "ts", "y"]]
    return out.rename(columns={"y": "y_cents"})


@register(
    "ts_downsample_lttb",
    oracle=_lttb_oracle(),
    doc=(
        "LARGEST-TRIANGLE-THREE-BUCKETS series downsampling "
        "(Steinarsson 2013 — the standard visual-fidelity "
        f"downsampler): each user's event series reduced to K={_LTTB_K} "
        "points — first and last always kept, the middle split into "
        f"{_LTTB_B} near-equal buckets, and each bucket contributes the "
        "point forming the largest triangle with the PREVIOUS pick and "
        "the NEXT bucket's average point. The bucket chain is "
        "sequential (pick b anchors pick b+1), so this is the "
        "ts_ewma/ts_holt_linear family's recursion class, point-"
        "selection flavor. Determinism: x = whole seconds from the "
        "series start (tz-cancelling), y = value cents, and the "
        "triangle comparison is scaled by the next bucket's count so "
        "the centroid stays RATIONAL — the whole argmax is BIGINT-"
        "exact with ties to the earliest point; the oracle UNROLLS "
        f"the {_LTTB_B} bucket picks as chained argmax CTEs (K is a "
        "fixed parameter, so unrolling is exact, unlike data-"
        "dependent fixpoints). Rows with NULL ts or NULL value are "
        "not plottable points and are excluded on BOTH engines "
        "(ADVICE r16; NULL-vintage law-tested). Series with <= K "
        "points pass through "
        "whole (law-tested; testdata users all exceed K). Scale "
        "shape: ONE user-keyed exchange (explicit-width repartition "
        "per the r14 rule — byte-small input, compute-heavy Arrow "
        "stage, the AQE-coalesce trap ts_ewma measured 6.4x on) into "
        "a per-series O(n) Arrow recursion; at 100 TB series are "
        "independent, so the stage scales with the user count and "
        "no shuffle ever carries more than the raw points."
    ),
    tags=("timeseries",),
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # NULL-vintage contract (ADVICE r16): a NULL ts or NULL value row
    # is not a plottable point — excluded identically on both engines
    # (the oracle's pts CTE carries the same predicate). Without the
    # pin, pandas sums NaN-poison every triangle score while DuckDB's
    # SUM skips NULLs but COUNT(*) still counts the row.
    pts = e.filter(F.col("ts").isNotNull() & F.col("value").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        F.col("ts").cast("long").alias("tl"),
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    return per_user(pts, _lttb_pdf, _LTTB_SCHEMA)
