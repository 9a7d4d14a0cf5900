"""Streaming ingest + windowed aggregation (Structured Streaming).

Two flows:

1. ``stream_clean_lms`` — the reference's "daily LMS updates" file
   drop as a stream: CSV file source (same all-VARCHAR tolerant
   schema as batch), micro-batches accumulated via ``foreachBatch``
   into an append store, then the SAME batch cleaning functions
   (etl/loan_pipeline.py) applied over the accumulated whole. This
   gives batch-replay equivalence by construction: after all files
   are processed, output ≡ batch pipeline on the union — the
   duplicate flags are global, exactly like the reference's daily
   full-table rebuild. Every call rebuilds over the accumulated
   whole; applying each day's file incrementally, proven equal to the
   full rebuild, is ROADMAP item 5.

2. ``stream_window_counts`` — tumbling 1-hour event counts with a
   1-day watermark, run with ``availableNow`` over the static events
   table. Complete output mode so every window is emitted
   deterministically; the DuckDB oracle is the batch date_trunc
   formulation.

Both run with ``trigger(availableNow=True)`` so they terminate after
draining the source — the registry/driver can treat them as batch
queries with streaming execution underneath.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.etl.loan_pipeline import (
    LMS_COLUMNS,
    clean_lms,
    dupe_keys,
)
from duckdb_data_eng_proj_spark.io.scratch import scratch_tmp
from duckdb_data_eng_proj_spark.io.sources import (
    all_varchar_schema,
    event_ts,
    read_raw_events,
)


def _symlink_events_dir(sf_dir: str, prefix: str) -> str:
    """Expose the single events parquet file through a fresh temp dir
    (streaming file sources need a DIRECTORY). The link target is
    abspath'd: a relative sf_dir would otherwise resolve relative to
    the temp dir and dangle."""
    src_dir = scratch_tmp(prefix)
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    return src_dir


def _parity_split_dir(raw: DataFrame, prefix: str) -> str:
    """Re-write the events table as two parquet chunks split by
    event_id parity so maxFilesPerTrigger=1 yields two genuine
    micro-batches (cross-batch state is actually exercised)."""
    src_dir = scratch_tmp(prefix)
    half = F.pmod(F.col("event_id"), F.lit(2))
    for part in (0, 1):
        raw.filter(half == part).coalesce(1).write.mode("append").parquet(src_dir)
    return src_dir


def _drain_stream(
    plan: DataFrame, ckpt: str, output_mode: str | None = None
) -> DataFrame | None:
    """Run ``plan`` as an availableNow foreachBatch stream and return
    the union of all emitted micro-batches (None if nothing emitted).
    Each batch is eagerly localCheckpoint'ed so the union stays valid
    after the stream terminates."""
    acc: dict[str, DataFrame | None] = {"df": None}

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        pinned = batch_df.localCheckpoint(eager=True)
        acc["df"] = pinned if acc["df"] is None else acc["df"].unionByName(pinned)

    writer = plan.writeStream.foreachBatch(absorb)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    q = (
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return acc["df"]


def _drain_memory(agg: DataFrame, output_mode: str, prefix: str) -> DataFrame:
    """Run the streaming aggregate ``agg`` into a uniquely named memory
    sink with ``availableNow`` and return the sink table once the
    source is drained. ``prefix`` names the sink (``{prefix}_<hex>``)
    and its scratch checkpoint dir (``{prefix}_stream_ckpt_*``)."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_tmp(f"{prefix}_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.table(name)


def stream_clean_lms(
    spark: SparkSession,
    input_dir: str,
    run_ts: dt.datetime | None = None,
) -> DataFrame:
    """Stream CSV files from ``input_dir`` (one micro-batch per file
    set), then apply the batch LMS cleaning over the accumulated rows.

    Returns the cleaned DataFrame after the stream drains
    (availableNow). Late/out-of-order *files* are handled naturally:
    every new file is a micro-batch; the rebuild makes flags global.
    """
    schema = all_varchar_schema(LMS_COLUMNS, extra="column8")
    stream = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("maxFilesPerTrigger", 1)  # one micro-batch per daily file
        .csv(input_dir)
    )

    raw = _drain_stream(stream, scratch_tmp("lms_stream_ckpt_"))
    if raw is None:
        raw = spark.createDataFrame([], schema)
    loan_dupes = dupe_keys(raw, "loan_id", exclude_blank=True)
    app_dupes = dupe_keys(raw, "application_id", exclude_blank=True)
    return clean_lms(raw, loan_dupes, app_dupes, run_ts)


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour counts per event_type with a 1-day watermark,
    executed as a streaming query over the static events parquet."""
    # Streaming file source needs a *directory*; expose the single
    # parquet file through a temp dir symlink. The schema must be the
    # raw on-disk one (ts physical type varies by generator vintage —
    # see io.sources.event_ts).
    raw = read_raw_events(spark, sf_dir)
    src_dir = _symlink_events_dir(sf_dir, "events_stream_src_")
    stream = spark.readStream.schema(raw.schema).parquet(src_dir)
    ts = event_ts(raw)
    agg = (
        stream.withColumn("__ts", ts)
        .withWatermark("__ts", "1 day")
        .groupBy(F.window("__ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return _drain_memory(agg, "complete", "win")


def stream_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState``
    (SURVEY §2.8 / the north star's 'custom stateful operators' row):
    per-user running (event count, exact cents sum) carried in
    GroupState across micro-batches.

    The events table is re-written as two parquet chunks (split by
    event_id parity) so ``maxFilesPerTrigger=1`` genuinely exercises
    cross-batch state: a user seen in both chunks must resume from its
    stored counters. Each invocation emits the cumulative row for the
    key; the final answer keeps each user's row from the last batch
    (counters are monotone, so max() selects it). Batch-replay law:
    output ≡ the plain groupBy totals — the registry oracle.

    At 100 TB this is the template for any custom accumulator Spark
    lacks: Arrow-batched state function, state store sharded by key,
    bounded memory per key.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    raw = read_raw_events(spark, sf_dir)
    src_dir = _parity_split_dir(raw, "events_state_src_")

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    out_schema = "user_id bigint, n_events bigint, cents bigint"
    state_schema = "n bigint, cents bigint"

    def totals(key, pdf_iter, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # round-half-away like exact_units: copysign keeps the law
            # for negative amounts too (truncation is toward zero).
            # NULL values mirror SQL SUM — counted in n, skipped in the
            # cents sum (r17 hostile vintage: NaN -> int64 aborts the
            # state fn where the oracle just skips the NULL)
            v = pdf["value"].dropna().to_numpy(dtype="float64") * 100
            if len(v):
                cents += int((v + np.copysign(0.5, v)).astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "cents": [cents]}
        )

    agg = stream.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    out = _drain_stream(agg, scratch_tmp("state_stream_ckpt_"), "update")
    assert out is not None
    # The final state is the row from the user's LAST batch. n_events
    # strictly increases across a user's batches, so max over the
    # (n_events, cents) STRUCT selects that row atomically. A separate
    # max per column was wrong for negative amounts: cents is only
    # monotone for non-negative values (the state fn itself handles
    # negatives via copysign), so max(cents) could resurrect an
    # earlier batch's larger running sum — latent on the all-positive
    # fixtures, caught by the round-15 review.
    final = F.max(F.struct("n_events", "cents")).alias("m")
    return (
        out.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("m.n_events").alias("n_events"),
            (F.col("m.cents").cast("double") / 100).alias("total_value"),
        )
    )


def stream_topk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode streaming top-k: per-type counts, re-ranked each
    micro-batch; the memory sink holds the current top 5."""
    raw = read_raw_events(spark, sf_dir)
    src_dir = _symlink_events_dir(sf_dir, "events_topk_src_")
    stream = spark.readStream.schema(raw.schema).parquet(src_dir)
    ranked = (
        stream.groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("event_type"))
        .limit(5)
    )
    return _drain_memory(ranked, "complete", "topk")


def stream_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joins the
    static customer dimension in-flight (user_id = c_custkey), then a
    streaming aggregate counts events per market segment.

    This is the enrich-on-ingest pattern: the dimension is a plain
    batch DataFrame broadcast to every micro-batch — no state, no
    watermark, re-resolved per trigger (so a dimension refresh is
    picked up at the next micro-batch). At 100 TB ingest rates the
    same plan holds as long as the dimension stays broadcast-size;
    bigger dims move to a pre-bucketed co-located join.
    """
    raw = read_raw_events(spark, sf_dir)
    src_dir = _symlink_events_dir(sf_dir, "events_enrich_src_")
    stream = spark.readStream.schema(raw.schema).parquet(src_dir)

    from duckdb_data_eng_proj_spark.io.sources import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
    )
    agg = joined.groupBy("c_mktsegment").agg(F.count("*").alias("n_events"))

    return _drain_memory(agg, "complete", "enrich")


def stream_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` keyed by
    (user_id, event_type), state carried across two real micro-batches.

    The events table is split into two parquet chunks by event_id
    parity with ``maxFilesPerTrigger=1``, so a key seen in both chunks
    genuinely exercises cross-batch dedup state: its second arrival
    must NOT re-emit. Emitting only the key columns makes the output
    deterministic (which physical row "wins" varies with file order;
    the surviving KEY SET does not) — the oracle is the batch
    ``SELECT DISTINCT``, the dedup streaming/batch unification law.

    At 100 TB ingest this exact pattern runs with a watermark +
    ``dropDuplicatesWithinWatermark`` so the key state is bounded by
    the lateness horizon instead of growing forever; the unbounded
    variant here matches the oracle exactly for a finite replay.
    """
    raw = read_raw_events(spark, sf_dir)
    src_dir = _parity_split_dir(raw, "events_dedup_src_")

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    dedup = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )

    out = _drain_stream(dedup, scratch_tmp("dedup_stream_ckpt_"), "append")
    assert out is not None
    return out


SENTINEL_USER = -999_999_999


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user over the events stream.

    Append-mode session_window state only emits when the watermark
    passes a session's close, and availableNow stops at the last real
    event — the final sessions would be withheld. The flush pattern:
    after draining the real data, drop a sentinel event (far-future
    timestamp, reserved user id) into the source directory and run one
    more availableNow pass on the SAME checkpoint; the watermark
    advances past every real session and the state flushes. The
    sentinel's own (still-open) session is filtered out.

    Batch-replay law: output ≡ the batch lag/cumsum sessionization
    aggregated per session (the ext_sessionize oracle shape) — checked
    by the registry oracle.
    """
    raw = read_raw_events(spark, sf_dir)
    src_dir = _symlink_events_dir(sf_dir, "events_session_src_")
    ckpt = scratch_tmp("session_stream_ckpt_")

    ts = event_ts(raw)
    ts_type = dict(raw.dtypes).get("ts")

    def run_pass() -> DataFrame | None:
        # Both passes share ONE checkpoint (the second must resume the
        # first's session state); each returns only what it emitted.
        stream = spark.readStream.schema(raw.schema).parquet(src_dir)
        agg = (
            stream.withColumn("__ts", ts)
            .withWatermark("__ts", "0 seconds")
            .groupBy(F.session_window("__ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "n_events",
            )
        )
        return _drain_stream(agg, ckpt, "append")

    first = run_pass()  # drains real data; final sessions still in state

    # state-flush pass: one far-future sentinel event
    far_future = raw.sparkSession.createDataFrame(
        [(int(-1), SENTINEL_USER, "sentinel", 0.0, "{}")],
        "event_id: long, user_id: long, event_type: string, value: double, props: string",
    ).withColumn(
        "ts",
        F.lit("2100-01-01 00:00:00").cast("timestamp"),
    )
    if ts_type == "bigint":
        far_future = far_future.withColumn(
            "ts", (F.col("ts").cast("long") * 1_000_000_000)
        )
    elif ts_type == "timestamp_ntz":
        far_future = far_future.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    far_future.select(*raw.columns).coalesce(1).write.mode("append").parquet(src_dir)
    flushed = run_pass()  # watermark jumps to 2100 → every real session emits

    parts = [df for df in (first, flushed) if df is not None]
    assert parts
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out.filter(F.col("user_id") != SENTINEL_USER)


def _arrival_batch(ev_ts: "F.Column", event_id: "F.Column") -> "F.Column":
    """Deterministic simulated arrival batch (0/1/2) for the late-data
    replay: events arrive in three ten-day waves by EVENT time (days
    1-10 → batch 0, 11-20 → 1, 21+ → 2), except every 7th event_id is
    "delayed" one wave and every 13th first-wave event is delayed TWO
    waves. One-wave stragglers stay inside Spark's late-filter lag
    (the late-events watermark trails the eviction watermark by one
    batch), so they are accepted; the two-wave stragglers arrive
    after their windows were finalized and are genuinely dropped —
    both fates must appear for the accounting to be non-degenerate.
    Pure Column expression so the DuckDB oracle can state the
    identical rule.
    """
    base = (
        F.when(ev_ts < F.lit("2024-01-11 00:00:00").cast("timestamp"), F.lit(0))
        .when(ev_ts < F.lit("2024-01-21 00:00:00").cast("timestamp"), F.lit(1))
        .otherwise(F.lit(2))
    )
    delayed_two = (F.pmod(event_id, F.lit(13)) == 0) & (base == F.lit(0))
    delayed_one = (F.pmod(event_id, F.lit(7)) == 0) & (base < F.lit(2))
    return (
        F.when(delayed_two, F.lit(2))
        .when(delayed_one, base + F.lit(1))
        .otherwise(base)
    )


def stream_watermark_late_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowed-lateness accounting under a REAL Structured Streaming
    watermark (VERDICT r7 item 3): 1-hour tumbling counts in APPEND
    mode over three deterministic arrival waves, joined back against
    the batch per-window totals so each finalized window reports how
    many rows the watermark accepted vs dropped as too-late.

    Mechanics: the events table is split into three parquet files by
    ``_arrival_batch`` (simulated arrival order ≠ event order for the
    "delayed" rows); ``maxFilesPerTrigger=1`` + strictly increasing
    mtimes force one micro-batch per wave in wave order. The
    watermark advances between batches to max-seen-event-time minus
    the 2-hour allowed lateness; append mode emits a window only once
    the watermark passes its end, and a delayed row is dropped iff its
    window was already finalizable when the row arrived. Output per
    finalized window: ``n_accepted`` (what streaming counted) and
    ``n_dropped_late`` (batch total minus accepted).

    Oracle = event-time replay in SQL (streaming ≡ batch accounting):
    the DuckDB side recomputes the same wave assignment, the same
    per-batch watermark sequence (Spark semantics: the LATE-row
    filter in batch b uses the watermark computed after batch b-2 —
    one batch behind the eviction watermark, per Spark's
    IncrementalExecution late-events/eviction split), and the same
    finalization predicate window_end <= final watermark. Tested as a
    law in tests/test_streaming.py.

    100 TB shape: identical code — the state is one row per OPEN
    window (bounded by lateness horizon / window size), never the
    stream; the totals join is aggregate-vs-aggregate. The arrival
    simulation is replaced by the real source's arrival order.
    """
    import glob as _glob
    import shutil
    import time as _time

    raw = read_raw_events(spark, sf_dir)
    ev = raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        event_ts(raw).alias("__ts"),
    ).withColumn("__b", _arrival_batch(F.col("__ts"), F.col("event_id")))
    # Materialize once: ev feeds the three wave writes AND the totals
    # aggregate — without this the events scan + projection executes
    # four times (round-15 review).
    ev = ev.localCheckpoint()

    src_dir = scratch_tmp("events_late_src_")
    now = _time.time()
    for wave in range(3):
        stage = scratch_tmp(f"late_wave{wave}_")
        ev.filter(F.col("__b") == wave).drop("__b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        parts = _glob.glob(os.path.join(stage, "part-*.parquet"))
        if not parts:
            # An empty wave writes a parquet dir with no part file. The
            # wave cutoffs are hardcoded 2024-01-11/21 boundaries, so a
            # tiny scale factor or a differently-dated events table can
            # produce one — fail with the cause, not an IndexError.
            raise ValueError(
                f"arrival wave {wave} is empty: the events table does not "
                "span the hardcoded 2024-01-11/2024-01-21 wave boundaries "
                f"(sf_dir={sf_dir})"
            )
        part = parts[0]
        dst = os.path.join(src_dir, f"b{wave}.parquet")
        shutil.copyfile(part, dst)
        # FileStreamSource orders files by modification time: pin one
        # micro-batch per wave in wave order.
        os.utime(dst, (now + 60 * wave, now + 60 * wave))

    stream = (
        spark.readStream.schema("event_id long, __ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("__ts", "2 hours")
        .groupBy(F.window("__ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_accepted"))
        .select(F.col("w.start").alias("window_start"), "n_accepted")
    )
    accepted = _drain_memory(agg, "append", "late")

    totals = ev.groupBy(
        F.date_trunc("hour", F.col("__ts")).alias("window_start")
    ).agg(F.count("*").alias("n_total"))
    return (
        accepted.join(F.broadcast(totals), "window_start")
        .select(
            "window_start",
            "n_accepted",
            (F.col("n_total") - F.col("n_accepted")).alias("n_dropped_late"),
        )
    )
