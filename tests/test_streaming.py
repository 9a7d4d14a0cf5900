"""Streaming checks: batch-replay equivalence + windowed agg parity.

The batch-replay law (SURVEY.md §5): after a streaming query drains
every input file, its output must equal the batch pipeline run on the
union of those files. This is the correctness contract that makes the
streaming path trustworthy without separate golden data.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from duckdb_data_eng_proj_spark.etl.loan_pipeline import clean_lms, dupe_keys
from duckdb_data_eng_proj_spark.etl.oracle_sql import _REF as REF
from duckdb_data_eng_proj_spark.io.sources import read_csv_all_varchar
from duckdb_data_eng_proj_spark.queries.streaming_q import split_lms_csv
from duckdb_data_eng_proj_spark.streaming import stream_clean_lms

RUN_TS = dt.datetime(2026, 1, 23, 12, 30, 57)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(f"{REF}/data"), reason="reference data not available"
)


def test_stream_ingest_batch_replay_equivalence(spark):
    src = f"{REF}/data/lms_updates_expanded.csv"
    days_dir = split_lms_csv(src)
    streamed = stream_clean_lms(spark, days_dir, run_ts=RUN_TS)

    from duckdb_data_eng_proj_spark.etl.loan_pipeline import LMS_COLUMNS

    raw = read_csv_all_varchar(spark, src, LMS_COLUMNS, extra="column8")
    batch = clean_lms(
        raw,
        dupe_keys(raw, "loan_id", exclude_blank=True),
        dupe_keys(raw, "application_id", exclude_blank=True),
        run_ts=RUN_TS,
    )

    s_rows = sorted(map(str, streamed.collect()))
    b_rows = sorted(map(str, batch.collect()))
    assert len(s_rows) == len(b_rows) == 177
    assert s_rows == b_rows


def test_stream_watermark_late_accounting_law(spark):
    """ext_stream_watermark_late: the watermark accounting must close —
    for every finalized window accepted + dropped equals the batch
    total, some rows ARE dropped (the two-wave stragglers), the
    one-wave stragglers are accepted (drops strictly fewer than the
    delayed population), and non-finalized tail windows never appear.
    """
    import pyspark.sql.functions as F

    from duckdb_data_eng_proj_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    out = REGISTRY["ext_stream_watermark_late"].fn(spark, SF_DIR).collect()
    assert out, "no finalized windows emitted"

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from duckdb_data_eng_proj_spark.io.sources import event_ts as _event_ts

    ev = events.select(_event_ts(events).alias("ts"))
    totals = {
        r["w"]: r["n"]
        for r in ev.groupBy(F.date_trunc("hour", "ts").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    max_ts = ev.agg(F.max("ts")).first()[0]

    dropped = 0
    for row in out:
        w = row["window_start"]
        assert row["n_accepted"] + row["n_dropped_late"] == totals[w], w
        assert row["n_dropped_late"] >= 0
        dropped += row["n_dropped_late"]
        # finalized ⇒ window end at or below the final watermark
        import datetime as dt

        assert w + dt.timedelta(hours=1) <= max_ts - dt.timedelta(hours=2) + dt.timedelta(milliseconds=1)

    assert dropped > 0, "accounting degenerate: nothing was dropped"
    # one-wave stragglers (every 7th id) must NOT all be dropped: the
    # dropped set is only the two-wave stragglers (every 13th id in
    # wave 0), a strictly smaller population.
    n_delayed = events.filter(
        (F.pmod("event_id", F.lit(7)) == 0) | (F.pmod("event_id", F.lit(13)) == 0)
    ).count()
    assert dropped < n_delayed


def _write_events_dir(spark, rows, tmp_path):
    """Write a crafted events table as a single events.parquet file in
    a fresh sf_dir-shaped directory."""
    import glob
    import shutil

    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts timestamp",
    )
    stage = os.path.join(str(tmp_path), "stage")
    df.coalesce(1).write.parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    shutil.copyfile(part, os.path.join(str(tmp_path), "events.parquet"))
    return str(tmp_path)


def test_stream_session_gap_boundary_law(spark, tmp_path):
    """Round-15 review regression: session_window's gap rule is
    MICROSECOND-exact — it merges a gap of exactly 1800.000000 s and
    splits 1800.8 s, while the old date_diff('second') oracle counted
    whole-second boundary crossings (1800 for both) and merged both.
    Pin Spark AND the shipped oracle against each other in exactly the
    divergence zone."""
    import duckdb

    from duckdb_data_eng_proj_spark.queries import REGISTRY
    from duckdb_data_eng_proj_spark.streaming.ingest import stream_session_counts

    base = dt.datetime(2024, 1, 5, 10, 0, 0, 100000)
    rows = [
        # gap exactly 1800.000000 s -> ONE session
        (1, 1, "a", 0.0, "{}", base),
        (2, 1, "a", 0.0, "{}", base + dt.timedelta(seconds=1800)),
        # gap 1800.8 s (same whole-second crossing count) -> TWO
        (3, 2, "a", 0.0, "{}", base),
        (4, 2, "a", 0.0, "{}",
         base + dt.timedelta(seconds=1800, microseconds=800000)),
        # gap 1799.5 s crossing a second boundary -> ONE
        (5, 3, "a", 0.0, "{}", base),
        (6, 3, "a", 0.0, "{}",
         base + dt.timedelta(seconds=1799, microseconds=500000)),
    ]
    sf = _write_events_dir(spark, rows, tmp_path)
    got = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in stream_session_counts(spark, sf).collect()
    )
    assert got == [
        (1, base, 2),
        (2, base, 1),
        (2, base + dt.timedelta(seconds=1800, microseconds=800000), 1),
        (3, base, 2),
    ]
    # and the shipped oracle must agree row-for-row on the same data
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    want = sorted(
        (u, s, n)
        for u, s, n in con.execute(
            REGISTRY["ext_stream_session"].oracle
        ).fetchall()
    )
    assert want == got


def test_stream_stateful_negative_amounts_law(spark, tmp_path):
    """Round-15 review regression: the final per-user row must come
    from the LAST batch atomically. With a negative amount in the
    second parity batch the cumulative cents DECREASES, so the old
    per-column max(cents) resurrected the first batch's larger sum."""
    from duckdb_data_eng_proj_spark.streaming.ingest import (
        stream_user_totals_stateful,
    )

    ts = dt.datetime(2024, 1, 5, 10, 0, 0)
    rows = [
        # user 1: +5.00 in batch 0 (even event_id), -2.00 in batch 1
        (2, 1, "a", 5.0, "{}", ts),
        (3, 1, "a", -2.0, "{}", ts),
        # user 2: negative-only, single batch
        (5, 2, "a", -1.25, "{}", ts),
    ]
    sf = _write_events_dir(spark, rows, tmp_path)
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in stream_user_totals_stateful(spark, sf).collect()
    }
    assert got == {1: (2, 3.0), 2: (1, -1.25)}
