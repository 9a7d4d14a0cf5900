"""SparkSession factory.

The reference opens one embedded DuckDB connection per run
(reference: pipeline.py:35). The Spark-native equivalent is one long-
lived SparkSession; all staging happens as lazy DataFrames / temp views
instead of ``CREATE TABLE AS`` chains (reference: pipeline.py:45+).

Scale posture (100 TB design point, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy demotion replace hand-tuned physical plans.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a
  real cluster this is overridden (AQE coalesces down anyway). The
  latency profile (AQE off) uses min(16, 2×cores); see ``shuffle_width``.
- UTC session timezone so timestamp semantics are stable regardless of
  host zone (the reference pins Europe/Berlin only for the
  ``processed_at`` audit column — that stays an explicit expression,
  see functions.clock).
- Arrow enabled: every Python-boundary exchange (pandas UDFs,
  toPandas) is columnar-batched.
- DataFrame origin capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  PySpark wraps every ``functions``/Column call in py4j round trips
  that read the active session and a conf and set, then clear, a
  JVM call-site origin: ``F.col("x")`` costs 13 round trips instead of
  3, and plan building is the largest layer at small inputs. The cost:
  an analysis or runtime error's ``== DataFrame ==`` fragment names the
  JVM frame (``NativeMethodAccessorImpl``) instead of the Python file
  and line; the error class and message are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def scan_split_bytes(input_bytes: int, cpus: int) -> int:
    """Scale-aware parquet split size: target ~2 tasks per core for
    the given input volume, clamped to [512 KiB, 128 MiB].

    At 100 TB this returns the 128 MiB default (1 TB/core — splits
    stay big); at benchmark scale (tens of MB) it shrinks splits so a
    scan actually uses the machine instead of one task. Same dial,
    both ends — partition sizing is workload-relative, not a constant.
    """
    target = input_bytes // (2 * cpus) if cpus > 0 else input_bytes
    return max(512 * 1024, min(128 * 1024 * 1024, target))


def shuffle_width(cpus: int, latency_profile: bool) -> int:
    """Default ``spark.sql.shuffle.partitions`` for ``cpus`` task slots.

    Both profiles run two tasks per slot, so a shuffle stage runs in
    at most two waves. The latency profile has AQE off, so nothing
    coalesces its width at runtime; it caps at 16 because at sub-GB
    inputs more tasks only add per-task scheduling cost.
    """
    width = 2 * cpus
    return min(16, width) if latency_profile else width


def get_spark(
    app_name: str = "duckdb-data-eng-proj-spark",
    cpus: int | str | None = None,
    input_bytes: int | None = None,
    latency_profile: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS then 32 (driver contract).
    ``input_bytes`` (optional) auto-sizes the parquet scan split.
    ``spark.sql.shuffle.partitions`` is ``shuffle_width``: 2×cores, or
    min(16, 2×cores) under the latency profile.
    ``latency_profile`` tunes for small-input interactive latency:
    AQE's per-query-stage materialization costs ~100 ms/query and only
    pays off when runtime stats change the plan — for sub-GB inputs it
    can't, so the profile trades it (and tiny-shuffle compression) for
    latency. Default posture keeps AQE on (the 100 TB configuration).

    Origin capture is switched off here, as a builder config, because
    PySpark reads ``spark.python.sql.dataFrameDebugging.enabled`` once
    per process (``pyspark.errors.utils.is_debugging_enabled``, at the
    first ``functions``/Column call; off if no session is active then)
    and caches it, so a later ``spark.conf.set`` does nothing. A
    process whose first session was built elsewhere (a vanilla
    ``SparkSession.builder``, as in ``scripts/drive_all.py``) keeps
    origin capture on even if it later calls ``get_spark``.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cpus = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", str(not latency_profile).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_width(cpus, latency_profile)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no per-call JVM origin capture: ~10 py4j round trips saved per
        # Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # events.ts is INT64 TIMESTAMP(NANOS) in the r1-r3 data vintage,
        # which the parquet reader rejects unless it reads as raw bigint
        # nanos (io/sources.event_ts converts). Set here, once, so no
        # query build changes a session conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate turns explode(expr) into a pre-filter
        # `size(expr)>0 AND isnotnull(expr)`; predicate pushdown then
        # inlines the FULL generator expression into that filter below
        # every intervening projection, so a computed array (tokenize →
        # shingle) is re-evaluated ~4-6x per row before the projection
        # computes it once more. On this engine every text operator
        # explodes computed arrays; measured r6: the filtered-inverted-
        # index build went 6.2s -> 0.21s at sf0.1 with the rule off.
        # The rule only ever prunes rows whose generator output is
        # empty — explode(outer=false) already emits nothing for those,
        # so correctness is identical; we give up early pruning only
        # when the array is a cheap stored column, which no hot path
        # here has.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if input_bytes is not None:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", str(scan_split_bytes(input_bytes, cpus))
        )
    if latency_profile:
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            # single-node: no data locality to wait for — scheduling
            # delay is pure per-job floor at sub-GB scale
            .config("spark.locality.wait", "0ms")
        )
    return builder.getOrCreate()
