#!/usr/bin/env python3
"""Benchmark runner: one client, closed loop, two workloads.

    python3 perfbench/run.py --workload loan_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/``, starts the package's Spark session on
``local[min(CORES, nproc)]``, runs one untimed warm-up pass whose outputs are
kept for the correctness check, then starts measured passes until
``--seconds`` seconds have gone by. Each operation starts only after
the previous one has finished.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes (at least untraced, traced) and reports
the per-layer metrics plus the tracing overhead. The last line of standard
output is the JSON result; a human-readable report goes to standard error,
and the full record (box load, phase times, sample counts, DuckDB reference
times, spans) to ``.perfbench_work/``. ``perfbench/README.md`` defines every
metric and the layer → end-to-end → workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("loan_etl", "lsh_dedup")
LOAN_SCALE = 25  # 5,000 application lines, 4,425 LMS lines
OPS_SIZES = (200, 150)  # documents, embeddings
SETUP_REPEATS = 5
# Task slots. Two of the box's four cores stay free for the driver thread,
# the JIT compiler and GC.
CORES = min(2, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
# Driver JVM flags that make a pass cost the same from run to run:
# - C1 only: with C2, compiler threads still burned 10-31 CPU-s in the one
#   measured pass after the warm-up (a third to half of the pass), varying
#   from run to run; C1 finishes compiling within the warm-up pass.
# - Serial GC with a fixed heap: no parallel GC workers spinning for work,
#   and collections fall at the same allocation volume in every run (with
#   G1 the peak resident set spread 0.27 of its median over ten seeds).
JVM_FLAGS = f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms{DRIVER_MEM}"

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
WORKLOAD_LAYER = {
    "pass.wall_s": "s",
    "session.start_s": "s",
    "io.csv_bytes": "bytes",
    "etl.export_bytes": "bytes",
    "etl.pipeline_s": "s",
    "etl.analytics_s": "s",
    "spark.build_jobs": "count",
    "spark.tasks": "count",
    "spark.plan_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.overhead_s": "s",
}
OP_LAYER = {"build_s": "s", "exec_s": "s", "jobs": "count", "shuffle_bytes": "bytes"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> dict[str, str]:
    """Keep every file the run writes inside the checkout."""
    dirs = {k: os.path.join(WORK, k) for k in ("inputs", "export", "spark-local", "tmp")}
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = os.environ["SPARK_GRAFT_TMP"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_REFERENCE_DIR"] = os.path.join(dirs["inputs"], "loan")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(JVM_FLAGS + ' -Djava.io.tmpdir=' + dirs['tmp'])} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return dirs


def box_load() -> dict:
    """Load stamp taken before the session starts, with bench.py's rule:
    loaded when CPU idle < 90 % or load1 per core > 0.25."""

    def cpu_times() -> list[int]:
        with open("/proc/stat", encoding="ascii") as f:
            return [int(x) for x in f.readline().split()[1:]]

    a = cpu_times()
    time.sleep(0.5)
    b = cpu_times()
    delta = [y - x for x, y in zip(a, b)]
    idle = round(100.0 * (delta[3] + delta[4]) / max(1, sum(delta)), 1)
    load1 = os.getloadavg()[0]
    ncpu = os.cpu_count() or 1
    return {"load1": round(load1, 2), "cpu_idle_pct": idle,
            "loaded": idle < 90.0 or load1 / ncpu > 0.25}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_seconds(pid: int) -> float:
    """CPU seconds process ``pid`` has run, all threads (exited ones
    included), from its CPU-time clock (clock_getcpuclockid(3)'s id)."""
    return time.clock_gettime_ns(((~pid) << 3) | 2) / 1e9


def p90(samples: list[float]) -> float:
    """Nearest-rank 90th percentile. A run holds 7 or 14 op samples, so at
    most one lies above it; the report states how many."""
    s = sorted(samples)
    return s[max(0, -(-9 * len(s) // 10) - 1)]


class Run:
    def __init__(self):
        self.latencies: dict[str, list[float]] = {}
        self.op_errors: dict[str, str] = {}
        self.attempted = 0
        self.failed_by_op: dict[str, int] = {}
        self.jvm_pid = 0
        self.pass_cpu: list[float] = []  # JVM + Python CPU seconds per pass

    def cpu(self) -> float:
        """CPU seconds of the driver JVM, once it runs, plus this process."""
        return (cpu_seconds(self.jvm_pid) if self.jvm_pid else 0.0) + time.process_time()

    # -- session ------------------------------------------------------------

    def start_session(self, latency: bool):
        """Returns the session, the wall seconds of get_spark(), and the wall
        and CPU seconds of get_spark() plus a first forced query."""
        from duckdb_data_eng_proj_spark.session import get_spark

        cpu0 = self.cpu()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=CORES, latency_profile=latency)
        t1 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        cpu = self.cpu() - cpu0
        spark.sparkContext.setLogLevel("ERROR")
        return spark, t1 - t0, t2 - t0, cpu

    # -- passes -------------------------------------------------------------

    def run_op(self, op, tracer, capture: dict | None) -> None:
        from checks import to_arrow

        with tracer.phase(op.name, "build"):
            payload = op.build()
        if tracer.enabled:
            with tracer.phase(op.name, "plan"):
                for df in op.frames(payload):
                    df._jdf.queryExecution().executedPlan()
        with tracer.phase(op.name, "exec"):
            if capture is None:
                op.execute(payload)
            else:
                frames = op.frames(payload)
                if frames:
                    capture[op.name] = [to_arrow(df) for df in frames]
                else:
                    op.execute(payload)

    def one_pass(self, spark, ops, tracer, capture: dict | None = None) -> tuple[float, dict]:
        times: dict[str, float] = {}
        cpu0 = self.cpu()
        t_pass = time.perf_counter()
        for op in ops:
            t0 = time.perf_counter()
            try:
                self.run_op(op, tracer, capture)
            except Exception:  # noqa: BLE001 — one failed op must not stop the pass
                self.op_errors.setdefault(op.name, traceback.format_exc())
                times[op.name] = float("nan")
                continue
            times[op.name] = time.perf_counter() - t0
        wall = time.perf_counter() - t_pass
        self.pass_cpu.append(self.cpu() - cpu0)
        spark.catalog.clearCache()
        return wall, times

    def record(self, times: dict[str, float]) -> None:
        for name, seconds in times.items():
            self.attempted += 1
            if seconds != seconds:  # NaN: the op raised
                self.failed_by_op[name] = self.failed_by_op.get(name, 0) + 1
            else:
                self.latencies.setdefault(name, []).append(seconds)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "duckdb_data_eng_proj_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "test_oracle_parity.py")
    ):
        print("perfbench: the package is not next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    started = time.perf_counter()
    phases: dict[str, float] = {}
    dirs = prepare_environment()
    sys.path[:0] = [ROOT, HERE]

    import checks
    import loangen
    import opdata

    wl_name, seed = args.workload, args.seed
    if wl_name == "loan_etl":
        from duckdb_data_eng_proj_spark.etl.oracle_sql import ETL_ORACLES

        # Inputs on which a rounded analytics ratio is an inexact tie are
        # drawn again from the next sub-seed: Spark and DuckDB may round such
        # a tie apart (checks.rounding_ties), and the benchmark times the
        # program, it does not probe that divergence.
        for attempt in range(100):
            loan_seed = seed * 100 + attempt
            loan = loangen.generate(os.path.join(dirs["inputs"], "loan"), LOAN_SCALE, loan_seed)
            if not checks.rounding_ties(ETL_ORACLES["etl_portfolio"]):
                break
        else:
            raise RuntimeError(f"seed {seed}: every sub-seed gives a rounding tie")
        sizes = {"application_lines": LOAN_SCALE * loangen.APPS_PER_BLOCK,
                 "lms_lines": LOAN_SCALE * loangen.LMS_PER_BLOCK,
                 "csv_bytes": sum(os.path.getsize(p) for p in loan.values()),
                 "generator_seed": loan_seed}
    else:
        docs, vecs = OPS_SIZES
        tables = opdata.generate(os.path.join(dirs["inputs"], "ops"), seed, docs, vecs)
        sizes = {"documents": docs, "embeddings": vecs}
    box = box_load()

    from pyspark import SparkContext

    import workloads
    from spans import NullTracer, Tracer

    run = Run()
    latency_profile = wl_name != "loan_etl"
    if wl_name == "loan_etl":
        oracle = checks.Oracle()
    else:
        from duckdb_data_eng_proj_spark.queries import REGISTRY

        # The loan oracles run after the measured passes: their times are the
        # DuckDB reference. The operator oracles have no reported times, so
        # they run while the JVM launches.
        oracle = checks.Oracle(tables)
        oracle.prefetch({q: REGISTRY[q].oracle for q in workloads.LSH_DEDUP_OPS})
    phases["inputs_s"] = time.perf_counter() - started
    # The first session also launches the JVM: recorded as cold_start_s, not
    # gated (one sample per run).
    spark, _, cold_start, _ = run.start_session(latency_profile)
    gateway = SparkContext._gateway
    jvm_pid = run.jvm_pid = gateway.proc.pid
    oracle.join()
    phases["jvm_s"] = time.perf_counter() - started - phases["inputs_s"]

    def workload(spark):
        if wl_name == "loan_etl":
            return workloads.LoanEtl(spark, loan["applications"], loan["lms_updates"], dirs["export"])
        return workloads.Operators(spark, os.path.dirname(tables["documents"]), workloads.LSH_DEDUP_OPS)

    # warm-up: untimed, outputs kept for the check
    captured: dict = {}
    t_warm = time.perf_counter()
    _, warm_times = run.one_pass(spark, workload(spark).ops(), NullTracer(), captured)
    phases["warmup_s"] = time.perf_counter() - t_warm

    # setup_s is the median CPU cost of SETUP_REPEATS session restarts in the
    # warm JVM, each get_spark() plus a first forced query; their wall times
    # are recorded, and session.start_s is the median wall time of their
    # get_spark() part. The measured passes run on the last session.
    t_restart = time.perf_counter()
    setups, setup_walls, session_starts = [], [], []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        spark, start_s, setup_wall, setup_cpu = run.start_session(latency_profile)
        session_starts.append(start_s)
        setup_walls.append(setup_wall)
        setups.append(setup_cpu)
    phases["restarts_s"] = time.perf_counter() - t_restart
    wl = workload(spark)
    ops = wl.ops()

    export_rows = {}
    if wl_name == "loan_etl":
        export_rows = {f: os.path.join(dirs["export"], f) for f in os.listdir(dirs["export"])}
        if "etl.quality_report" in captured:
            captured["etl.quality_report"][0] = checks.report_id_list_as_json(
                captured["etl.quality_report"][0]
            )

    tracer = Tracer(spark, wl_name) if args.trace else None
    untraced_walls, traced_walls = [], []
    untraced_cpu: list[float] = []
    pipeline_s, analytics_s = [], []
    t_measure = time.perf_counter()
    while True:
        # trace runs alternate U, T, U, T, ...: the overhead compares the
        # traced passes with the untraced ones
        traced = bool(args.trace) and len(traced_walls) < len(untraced_walls)
        if traced:
            tracer.pass_no += 1
            wall, times = run.one_pass(spark, ops, tracer)
            traced_walls.append(wall)
        else:
            wall, times = run.one_pass(spark, ops, NullTracer())
            untraced_walls.append(wall)
            untraced_cpu.append(run.pass_cpu[-1])
            run.record(times)
            pipeline_s.append(sum(v for k, v in times.items() if k not in workloads.ETL_ANALYTICS))
            analytics_s.append(sum(v for k, v in times.items() if k in workloads.ETL_ANALYTICS))
        elapsed = time.perf_counter() - t_measure
        done = not args.trace or len(traced_walls) == len(untraced_walls)
        if done and elapsed >= args.seconds:
            break
    measured_s = time.perf_counter() - t_measure
    # the engine's JVM only: the Python process's peak holds the benchmark's
    # own DuckDB work and captured outputs
    peak_rss_mb = vm_hwm_mb(jvm_pid)
    t_checks = time.perf_counter()

    # output checks, after the timed region
    mismatches: dict[str, str] = {}
    if wl_name == "loan_etl":
        from duckdb_data_eng_proj_spark.etl.oracle_sql import ETL_ORACLES

        exact = {"etl.quarantine": "etl_quarantine", "etl.quality_report": "etl_quality_report",
                 **{f"etl.q{i}": f"etl_q{i}" for i in range(1, 6)}}
        hashed = {"etl.clean_apps": "etl_clean_apps", "etl.clean_lms": "etl_clean_lms",
                  "etl.portfolio": "etl_portfolio", "etl.q0": "etl_q0"}
        for name, qid in {**exact, **hashed}.items():
            if name not in captured:
                continue
            compare = oracle.exact if name in exact else oracle.hashed
            why = compare(qid, ETL_ORACLES[qid], captured[name][0])
            if why:
                mismatches[name] = why
        for fname, path in sorted(export_rows.items()):
            table = {"cleaned_applications.csv": "etl_clean_apps",
                     "loan_portfolio.csv": "etl_portfolio",
                     "data_quality_report.csv": "etl_quality_report"}[fname]
            if oracle.csv_rows(path) != oracle.rows.get(table):
                mismatches["etl.export"] = f"{fname}: row count differs from {table}"
        missing = {"etl.quarantine", "etl.quality_report", "etl.clean_apps", "etl.clean_lms",
                   "etl.portfolio", *(f"etl.q{i}" for i in range(6))} - set(captured)
        if len(export_rows) != 3:
            missing.add("etl.export")
    else:
        for op in ops:
            qid = op.name.split(".", 1)[1]
            if op.name in captured:
                why = oracle.exact(qid, REGISTRY[qid].oracle, captured[op.name][0])
                if why:
                    mismatches[op.name] = why
        missing = {op.name for op in ops} - set(captured)
    duck_ref = dict(oracle.seconds) if wl_name == "loan_etl" else {}
    oracle.close()
    phases["checks_s"] = time.perf_counter() - t_checks
    for name in missing:
        mismatches.setdefault(name, "no output captured (the op raised in the warm-up pass)")

    failed = sum(run.failed_by_op.values())
    for name in mismatches:
        failed += len(run.latencies.get(name, []))
    samples = [v for vs in run.latencies.values() for v in vs]

    wall_s = statistics.median(untraced_walls)
    result = {
        "setup_s": statistics.median(setups),
        "cpu_s": statistics.median(untraced_cpu),
        "peak_rss_mb": peak_rss_mb,
    }
    layer = {}
    if args.trace:
        layer = layer_metrics(tracer.spans, wl, statistics.median(session_starts),
                              pipeline_s, analytics_s)
        layer["pass.wall_s"] = wall_s
        layer["trace.overhead_s"] = statistics.median(traced_walls) - wall_s
    correct = not mismatches and not run.op_errors

    report = {
        "workload": wl_name, "seed": seed, "seconds": args.seconds, "trace": args.trace,
        "inputs": sizes, "box": box, "cores": CORES,
        "profile": "latency" if latency_profile else "default (AQE)",
        "setup_samples_s": setups, "setup_wall_samples_s": setup_walls,
        "session_start_samples_s": session_starts,
        "cold_start_s": cold_start,
        "passes": len(untraced_walls), "traced_passes": len(traced_walls),
        "measured_s": measured_s, "untraced_walls_s": untraced_walls,
        "traced_walls_s": traced_walls, "wall_s": wall_s,
        "untraced_cpu_s": untraced_cpu, "op_samples": len(samples),
        # ungated: order statistics of one pass's 7 or 14 op samples
        "op_p50_s": statistics.median(samples) if samples else None,
        "op_tail_s": p90(samples) if samples else None,
        "op_samples_above_tail": sum(v > p90(samples) for v in samples) if samples else 0,
        "attempted": run.attempted, "failed": failed,
        "fail_ratio": failed / max(1, run.attempted),
        "pipeline_s": statistics.median(pipeline_s) if wl_name == "loan_etl" else None,
        "analytics_s": statistics.median(analytics_s) if wl_name == "loan_etl" else None,
        "duckdb_reference_s": duck_ref, "warmup_s": warm_times,
        "op_latencies_s": run.latencies, "mismatches": mismatches,
        "errors": run.op_errors, "metrics": result, "layer_metrics": layer,
        "phases_s": phases,
    }
    if tracer is not None:
        tracer.write(os.path.join(WORK, "traces", f"{wl_name}-seed{seed}.json"),
                     {"workload": wl_name, "seed": seed, "box": box})

    t_stop = time.perf_counter()
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
        gateway.proc.kill()
        gateway.proc.wait()
    for key in ("inputs", "export", "spark-local", "tmp"):
        shutil.rmtree(dirs[key], ignore_errors=True)
    phases["teardown_s"] = time.perf_counter() - t_stop
    report["run_s"] = time.perf_counter() - started
    stamp = f"{wl_name}-seed{seed}-trace{args.trace}"
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", stamp + ".json"), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    print_report(report)

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in result.items()}
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    if name in WORKLOAD_LAYER:
        return WORKLOAD_LAYER[name]
    return OP_LAYER[name.rsplit(".", 1)[1]]


def layer_metrics(spans, wl, cold_start, pipeline_s, analytics_s) -> dict:
    """Per-layer metrics from the traced passes: per-op medians over passes,
    per-workload medians of per-pass sums. Ops the workload does not run
    read 0."""
    import workloads

    passes = sorted({s["pass"] for s in spans})

    def per_pass(pred, key) -> float:
        return statistics.median(
            sum(s[key] for s in spans if s["pass"] == p and pred(s)) for p in passes
        )

    out = {}
    for op in workloads.ALL_OPS:
        mine = lambda s, op=op: s["op"] == op  # noqa: E731
        has = any(mine(s) for s in spans)
        out[f"{op}.build_s"] = per_pass(lambda s: mine(s) and s["phase"] == "build", "seconds") if has else 0.0
        out[f"{op}.exec_s"] = per_pass(lambda s: mine(s) and s["phase"] == "exec", "seconds") if has else 0.0
        out[f"{op}.jobs"] = per_pass(mine, "jobs") if has else 0
        out[f"{op}.shuffle_bytes"] = per_pass(mine, "shuffle_write_bytes") if has else 0
    is_loan = isinstance(wl, workloads.LoanEtl)
    out["session.start_s"] = cold_start
    out["io.csv_bytes"] = per_pass(lambda s: True, "input_bytes") if is_loan else 0
    out["etl.export_bytes"] = wl.export_bytes()
    out["etl.pipeline_s"] = statistics.median(pipeline_s) if is_loan else 0.0
    out["etl.analytics_s"] = statistics.median(analytics_s) if is_loan else 0.0
    out["spark.build_jobs"] = per_pass(lambda s: s["phase"] == "build", "jobs")
    out["spark.tasks"] = per_pass(lambda s: True, "tasks")
    out["spark.plan_s"] = per_pass(lambda s: s["phase"] == "plan", "seconds")
    out["spark.executor_cpu_s"] = per_pass(lambda s: True, "executor_cpu_s")
    out["spark.spill_bytes"] = per_pass(lambda s: True, "spill_bytes")
    out["spark.task_skew"] = statistics.median(
        max((s["task_skew"] for s in spans if s["pass"] == p), default=0.0) for p in passes
    )
    return out


def print_report(r: dict) -> None:
    lines = [
        f"perfbench {r['workload']} seed={r['seed']} profile={r['profile']} "
        f"cores={r['cores']} inputs={r['inputs']}",
        f"  box: {r['box']}",
        f"  passes={r['passes']} traced={r['traced_passes']} measured={r['measured_s']:.1f}s "
        f"op samples={r['op_samples']}: p50 {r['op_p50_s']} s, "
        f"p90 (op_tail_s) {r['op_tail_s']} s with {r['op_samples_above_tail']} above it; ungated",
        "  phases: " + ", ".join(f"{k}={v:.1f}" for k, v in r["phases_s"].items())
        + f", measured_s={r['measured_s']:.1f}, run_s={r['run_s']:.1f}",
    ]
    for k, v in r["metrics"].items():
        lines.append(f"  {k:<14} {v:12.4f} {END_TO_END[k]}")
    lines.append(f"  {'wall_s':<14} {r['wall_s']:12.4f} s (ungated)")
    lines.append(f"  {'fail_ratio':<14} {r['fail_ratio']:12.4f} ({r['failed']}/{r['attempted']})")
    if r["pipeline_s"] is not None:
        lines.append(f"  {'pipeline_s':<14} {r['pipeline_s']:12.4f} s")
        lines.append(f"  {'analytics_s':<14} {r['analytics_s']:12.4f} s")
        duck = r["duckdb_reference_s"]
        lines.append("  DuckDB reference (ungated; each query runs from the raw CSVs): "
                     + ", ".join(f"{k}={v:.3f}s" for k, v in sorted(duck.items())))
    if r["layer_metrics"]:
        lines.append(f"  trace.overhead_s {r['layer_metrics']['trace.overhead_s']:.4f} s")
    for name, why in r["mismatches"].items():
        lines.append(f"  MISMATCH {name}: {why}")
    for name, tb in r["errors"].items():
        lines.append(f"  ERROR {name}:\n{tb}")
    print("\n".join(lines), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
