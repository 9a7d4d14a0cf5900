"""Spans and Spark job counters around each benchmark operation.

A traced operation runs in phases (``build`` / ``plan`` / ``exec``). Each
phase runs under its own Spark job group, labelled ``workload:op:phase``
through the job description, so every job it fires (including jobs fired
while building the plan, broadcast builds and AQE stages) can be attributed
afterwards. Counters come from the status tracker and the app status store,
both of which work with ``spark.ui.enabled=false``. Spans stay in memory
until :meth:`Tracer.write`.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class NullTracer:
    """Untraced runs: no job groups, no status-store reads."""

    enabled = False

    def phase(self, op: str, phase: str):  # noqa: ARG002
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.pass_no = 0
        self._store = self.sc._jsc.sc().statusStore()
        self._quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextlib.contextmanager
    def phase(self, op: str, phase: str):
        label = f"{self.workload}:{op}:{phase}"
        group = f"{label}#{self.pass_no}"
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            span = {"name": label, "parent": f"{self.workload}:{op}#{self.pass_no}",
                    "op": op, "phase": phase, "pass": self.pass_no,
                    "start": t0, "end": t1, "seconds": t1 - t0}
            span.update(self._job_counters(group))
            self.spans.append(span)

    def _job_counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "input_bytes": 0, "spill_bytes": 0, "task_skew": 0.0}
        seen: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info is not None else ():
                if stage in seen:
                    continue
                seen.add(stage)
                try:
                    sd = self._store.lastStageAttempt(stage)
                except Exception:  # noqa: BLE001 — skipped stage, never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                if sd.numTasks() > 1:
                    summary = self._store.taskSummary(stage, sd.attemptId(), self._quantiles)
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        skew = run.apply(1) / max(run.apply(0), 1.0)
                        out["task_skew"] = max(out["task_skew"], skew)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
