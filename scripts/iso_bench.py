#!/usr/bin/env python
"""Isolate one or more bench queries: same session/profile/timing as
bench.py (warm-up run, then laps timed build-inclusive on a noop sink),
plus optional explain("formatted") capture.

Usage:
  python scripts/iso_bench.py qid [qid ...] [--explain DIR] [--laps N]

Each lap is ``bench.best_of(op, 1)``, so the best lap is comparable 1:1
with bench.py's per-query entries.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session, best_of  # noqa: E402
from perfbench.workloads import Operators  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    laps = 3
    if "--explain" in args:
        i = args.index("--explain")
        explain_dir = args[i + 1]
        del args[i : i + 2]
    if "--laps" in args:
        i = args.index("--laps")
        laps = int(args[i + 1])
        del args[i : i + 2]
    qids = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session("iso_bench", sf_dir)

    for qid, op in zip(qids, Operators(spark, sf_dir, tuple(qids)).ops()):
        spark.sparkContext.setJobDescription(f"iso:{qid}")
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            (df,) = op.build()
            with open(os.path.join(explain_dir, f"{qid}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        op.execute(op.build())  # warm-up run (bench.py protocol)
        times = [best_of(op, 1) for _ in range(laps)]
        print(
            f"{qid}: best={min(times):.4f} laps="
            + ",".join(f"{t:.4f}" for t in times),
            flush=True,
        )


if __name__ == "__main__":
    main()
