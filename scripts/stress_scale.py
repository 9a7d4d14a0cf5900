#!/usr/bin/env python
"""Scale stress check: run headline plans at ~8-20x bench volume.

Builds an amplified copy of the sf0.1 testdata under the process
scratch root (io/scratch.py; removed at exit), ids offset per replica
so keys stay unique — dedup/join cardinalities scale realistically —
then times representative registry queries at both
scales and reports the throughput ratio. Linear-ish wall-clock growth
(ratio ≈ amplification / parallel headroom) is the pass signal: it
means no plan degenerates (no accidental cross join, no driver
collect, no single-task stage) as volume grows.

The session is bench.py's (``bench_session``): the latency profile
unless SPARK_GRAFT_PROFILE=default, scan splits sized to the sf0.1
input. Each query is timed ``best_of(op, 2)``, build-inclusive.

Usage: python scripts/stress_scale.py [amplification] [query_id ...]
(query ids restrict the timed set — used for the deep ×16/×32 sweeps
of the heavy dedup/knn/ensemble plans)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import bench_session, best_of
from duckdb_data_eng_proj_spark.io.scratch import scratch_tmp
from duckdb_data_eng_proj_spark.io.sources import load_table
from perfbench.workloads import Operators

BASE = "/root/testdata/sf0.1"

# (table, id columns to offset per replica)
AMPLIFY = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "customer": [],
    "supplier": [],
    "nation": [],
    "region": [],
    "part": [],
}

QUERIES = [
    "tpch_q1",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "win_partition_sum",
    "ext_sessionize",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_cluster_cc",
    "sim_ann_ivf",
    "ext_text_tokens",
    "txt_quality_score",
    "ext_decontaminate",
    "ext_seq_pack",
    "ext_sketch_kmv",
    "dedup_containment",
    "sim_knn_bucket_join",
    "txt_lm_doc_score",
    "ext_quality_ensemble",
]


def build_amplified(spark, out_dir: str, k: int) -> None:
    for name, id_cols in AMPLIFY.items():
        df = load_table(spark, BASE, name)
        if id_cols and k > 1:
            # offset ids per replica so keys stay unique; offsets are
            # larger than any base id at sf0.1
            parts = []
            for r in range(k):
                rep = df
                for c in id_cols:
                    rep = rep.withColumn(c, F.col(c) + F.lit(r * 100_000_000))
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def time_queries(spark, sf_dir: str, queries) -> dict[str, float]:
    ops = Operators(spark, sf_dir, tuple(queries)).ops()
    return {qid: round(best_of(op, 2), 3) for qid, op in zip(queries, ops)}


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    queries = sys.argv[2:] or QUERIES
    spark = bench_session("stress", BASE)

    out_dir = scratch_tmp(f"stress_x{k}_")  # removed at exit
    print(f"amplifying sf0.1 ×{k} → {out_dir}", flush=True)
    build_amplified(spark, out_dir, k)

    base = time_queries(spark, BASE, queries)
    big = time_queries(spark, out_dir, queries)
    print(f"{'query':24} {'sf0.1':>8} {f'×{k}':>8} {'ratio':>7}")
    for qid in queries:
        ratio = big[qid] / base[qid] if base[qid] else float("nan")
        print(f"{qid:24} {base[qid]:8.3f} {big[qid]:8.3f} {ratio:6.1f}x")


if __name__ == "__main__":
    main()
