#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with a noop sink (full computation, no collect/IO
skew in the measurement). Each query is timed best-of-3 on a warm
session, build-inclusive (``best_of``): fn() with any Spark job it
fires, Catalyst planning and execution — everything a caller waits
for. The reference comparison (BASELINE.md) is warm-connection DuckDB,
timed parse-inclusive, so JVM startup is excluded from per-query
numbers.

The payload is self-validating against box load (VERDICT r7 item 2):
it records the pre-run 1-min loadavg and a half-second CPU-idle
sample (``perfbench.run.box_load``), and stamps ``"loaded": true``
when idle < 90% or loadavg/core > 0.25 — so a run taken on a busy box
carries its own disclaimer instead of needing a side-channel A/B
investigation. Before the timed laps the harness WAITS for the box to
drain (VERDICT r8 item 3): bounded poll up to $SPARK_GRAFT_IDLE_WAIT_S
seconds (default 600), then runs and stamps whatever is true
("idle_wait_s" records the wait).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from duckdb_data_eng_proj_spark.session import get_spark  # noqa: E402
from perfbench.run import box_load  # noqa: E402
from perfbench.workloads import Op, Operators  # noqa: E402

# Headline set: one per operator family, weighted toward the plans that
# matter at scale (wide joins, windows, sessionization, dedup, text).
BENCH_QUERIES = (
    "win_partition_sum",   # flagship: scan→agg→window
    "join_left_fanout",    # 1:N fan-out join
    "agg_conditional",     # conditional aggregation
    "agg_rate_nullif",     # ratio-of-aggregates
    "ext_dedup_exact",     # window-based dedup
    "ext_sessionize",      # lag+cumsum sessionization
    "ext_win_tumbling",    # tumbling windows
    "ext_rank_window",     # ranking windows
    "fn_math",             # per-row expression throughput
    "fn_unnest",           # explode/tokenize throughput
    "tpch_q1",             # full-scan pricing summary (map-side combine)
    "tpch_q3",             # selective broadcast join + top-k
    "tpch_q6",             # scan-bandwidth + pushed predicates
    "dedup_minhash_lsh",   # shingle→minhash→band (text map stage)
    "dedup_cluster_cc",    # iterative connected-components dedup
    "sim_ann_ivf_search",  # IVF centroid-pruned ANN probe
    "ext_decontaminate",   # eval-overlap n-gram decontamination (r4)
    "ext_seq_pack",        # token-budget sequence packing (r4)
    # r5 heavyweights (VERDICT r5: the perf signal was blind to these)
    "dedup_containment",   # inverted-index containment w/ verbatim collapse
    "sim_knn_bucket_join", # batch k-NN over LSH buckets + exact re-rank
    "txt_lm_doc_score",    # corpus bigram LM + per-doc scoring
    "ext_quality_ensemble",  # multi-signal keep/drop + reason bitmask
    "agg_sketch_cms",      # Count-Min sketch build (d×w cell grid)
    # r7 additions: the round's new plan shapes + the re-greened gap fill
    "ts_gap_fill",         # dense-grid resample + LOCF window fill
    "graph_clustering_coefficient",  # degree-ordered triangle census
    "evt_markov_transition",  # per-user lag seq -> transition matrix
    # r8 additions: the round's new plan shapes (the fifth r8 op,
    # ext_stream_watermark_late, is excluded — its fn() drives a
    # Structured Streaming replay through temp-file waves, so its
    # timing measures checkpoint/file churn, not a query plan)
    "graph_label_communities",  # 3-round deterministic LPA (iterative)
    "ts_ewma",             # bucket agg + per-user applyInPandas recursion
    "agg_reservoir_sample",  # hash-rank WindowGroupLimit sample
    "ml_naive_bayes",      # broadcast NB model + doc-keyed score sums
    # r9/r10 additions: the rounds' new plan shapes
    "txt_longest_common_substring",  # LSH candidates + diagonal-run LCS
    "ml_gbdt_round",       # integer AdaBoost round over the stump grid
    "graph_pagerank",      # 3-round integer PageRank (iterative)
    "ts_anomaly_mad",      # dual-row_number median/MAD flags
    "agg_sketch_hll",      # 64-register HLL build (constant state)
    "txt_zipf_fit",        # rank-frequency regression (decimal sums)
    "ts_changepoint_cusum",  # closed-form CUSUM drift windows
    "graph_jaccard_neighbors",  # per-edge structural similarity
    "ts_seasonal_profile", # weekday seasonal index (2-exchange profile)
    "ext_compact_plan",    # boundary-binned file-compaction planner
    "join_skew_diagnose",  # two-sided join fan-out histogram (r11)
    "dedup_minhash_incremental",  # batch-vs-index near-dup admission (r11)
    "sim_ann_index_drift", # stale-vs-retrained IVF comparison (r11)
    "sim_ann_ivf_admit",   # IVF write-side batch admission plan (r12)
    "ext_corpus_release_diff",  # two-generation corpus datasheet (r12)
    "dedup_band_index_vacuum",  # LSH index vacuum planner (r12)
    "ts_autocorr",         # join-free densified lag-k ACF (r12)
    "txt_bpe_merge_round", # vocab-bounded BPE pair statistics (r12)
    "graph_bfs_seed_distance",  # bounded-hop BFS from curated seeds (r12)
    "dedup_lsh_tune",      # LSH banding grid planner (r12)
    "txt_bm25_topk",       # BM25 lexical retrieval top-k (r12)
    "agg_assoc_pairs",     # a-priori market-basket pair rules (r12)
    "ml_perceptron_round",  # fixed-point batch perceptron on embeddings (r12)
    # r13 additions (ext_stream_dedup_admit is excluded for the same
    # reason as ext_stream_watermark_late: its fn() drives a real
    # Structured Streaming replay through temp parquet files, so its
    # timing measures checkpoint/file churn, not a query plan)
    "txt_hybrid_rrf",      # lexical+semantic reciprocal-rank fusion (r13)
    "txt_bpe_apply",       # 3-round BPE train-and-encode (r13)
    "sim_ann_ivf_repair",  # drift-triggered partial IVF retrain (r13)
    "ext_curriculum_mix",  # step-scheduled mix w/ exact apportionment (r13)
    # r14 additions
    "txt_bpe_train",       # 6-merge BPE trainer -> learned merge table (r14)
    "txt_bpe_encode_docs", # corpus encode via trained vocab join (r14)
    "join_interval_overlap",  # grid-cell interval overlap join (r14)
    # r15 additions
    "evt_session_paths",   # sessionize -> ordered path prefixes top-k (r15)
    "mm_image_resize",     # narrow BMP resize + dhash round-trip (r15)
    "graph_mst_boruvka",   # Borůvka rounds + Kruskal crossover MSF (r15)
    # r16 additions
    "mm_audio_resample",   # fractional-rate linear PCM resample (r16)
    "ts_downsample_lttb",  # LTTB series downsampling, per-series Arrow (r16)
    # r17 additions
    "vec_matryoshka_search",  # prefix-dim coarse search + full rescore (r17)
    "mm_scene_cut",        # Y4M temporal scene-cut detection (r17)
    # r18 additions
    "txt_rerank_proximity",  # candidate gen + pair-proximity rerank (r18)
    "ext_contamination_report",  # per-eval-set overlap report card (r18)
    "sim_ann_ivf_rebalance",  # IVF split/merge topology plan (r18)
    # r19 addition
    "sim_ann_ivf_recall_curve",  # recall@k vs nprobe sweep, one pass (r19)
)


def bench_session(app_name: str, sf_dir: str) -> SparkSession:
    """The Spark harnesses' session: the latency profile unless
    SPARK_GRAFT_PROFILE=default, scan splits sized to ``sf_dir``.

    The latency profile (see session.get_spark) trades AQE's per-stage
    materialization and tiny-shuffle compression for interactive
    latency on sub-GB input; SPARK_GRAFT_PROFILE=default runs the
    100 TB posture instead (AQE + compression on), so the scale profile
    has its own recorded numbers (BASELINE.md honesty note).
    """
    latency = os.environ.get("SPARK_GRAFT_PROFILE", "latency") != "default"
    input_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)
    )
    spark = get_spark(
        app_name=app_name, input_bytes=input_bytes, latency_profile=latency
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def best_of(op: Op, laps: int) -> float:
    """Best wall seconds of ``laps`` runs of ``op``, each timed build-
    inclusive: the plan build in fn() (with any Spark job it fires —
    checkpoints, broadcast builds), Catalyst analysis and planning, and
    the forced execution. That is everything a caller waits for, as
    scripts/duck_bench.py times DuckDB from SQL text to result."""
    best = float("inf")
    for _ in range(laps):
        t0 = time.perf_counter()
        op.execute(op.build())
        best = min(best, time.perf_counter() - t0)
    return best


def _wait_for_idle(max_wait_s: float) -> dict:
    """Poll box_load until the box reads unloaded, up to max_wait_s
    (VERDICT r8 item 3: two rounds running the driver's artifact was
    loaded-flagged and the binding numbers had to live in BASELINE.md —
    waiting out transient load makes the artifact itself binding).
    Returns the final box_load dict, stamped with how long we waited;
    if the deadline passes we run anyway and the "loaded" flag stays
    true, so the artifact still self-documents.
    """
    box = box_load()
    t0 = time.monotonic()
    deadline = t0 + max_wait_s
    while box["loaded"] and time.monotonic() < deadline:
        print(
            "bench.py: box loaded (load1=%s idle=%s%%) — waiting for idle"
            % (box["load1"], box["cpu_idle_pct"]),
            file=sys.stderr,
        )
        # Sleep only what the deadline allows (ADVICE r9: a fixed 30s
        # sleep overshoots a smaller remaining budget, and capping the
        # report at max_wait_s under-states the actual wall wait).
        time.sleep(min(30.0, max(0.0, deadline - time.monotonic())))
        box = box_load()
    box["idle_wait_s"] = round(time.monotonic() - t0, 1)
    return box


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    # Bounded wait-for-idle (default 10 min; override for CI/smoke runs
    # via SPARK_GRAFT_IDLE_WAIT_S=0).
    max_wait = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "600"))
    box = _wait_for_idle(max_wait)
    if box["loaded"]:
        print(
            "bench.py: WARNING box still loaded after %.0fs wait (load1=%s "
            "idle=%s%%) — timings will carry \"loaded\": true"
            % (box["idle_wait_s"], box["load1"], box["cpu_idle_pct"]),
            file=sys.stderr,
        )

    spark = bench_session("bench", sf_dir)
    ops = Operators(spark, sf_dir, BENCH_QUERIES).ops()

    # Full untimed warm-up lap: the C2 JIT needs several executions of
    # each generated WholeStageCodegen class to reach steady state —
    # without this lap the FIRST suite entries pay compilation inside
    # their best-of-3 (r3's win_partition_sum 'regression' was exactly
    # this: iter timings there run 0.48→0.26 s over six forces of an
    # unchanged plan). The DuckDB side (scripts/duck_bench.py) runs the
    # same warm-up-lap-then-best-of-3 protocol. An id missing from
    # REGISTRY raises KeyError here rather than shrinking the headline.
    for op in ops:
        op.execute(op.build())

    timings = {qid: round(best_of(op, 3), 4) for qid, op in zip(BENCH_QUERIES, ops)}
    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **box,
            }
        )
    )


if __name__ == "__main__":
    main()
