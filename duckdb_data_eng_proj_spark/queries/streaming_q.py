"""Registry entries for the Structured Streaming surface.

``ext_stream_ingest`` streams the reference's LMS CSV as two "daily"
file drops (one micro-batch each) and returns the cleaned output —
batch-replay equivalence is asserted in tests/test_streaming.py, and
the driver records a rows-only check (streaming state isn't
SQL-expressible for the oracle). ``ext_stream_window`` IS
oracle-checked: its streaming execution must produce exactly the
batch date_trunc counts.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession

from duckdb_data_eng_proj_spark.etl.oracle_sql import _REF, ETL_ORACLES
from duckdb_data_eng_proj_spark.queries.registry import register
from duckdb_data_eng_proj_spark.streaming.ingest import (
    stream_clean_lms,
    stream_window_counts,
)

_RUN_TS = dt.datetime(2026, 1, 23, 12, 30, 57)


def split_lms_csv(src: str) -> str:
    """Split the LMS CSV into two header-carrying 'daily' files in a
    fresh temp dir (simulates two file-drop days): the first 90 data
    rows, then the rest."""
    from duckdb_data_eng_proj_spark.io.scratch import scratch_tmp

    with open(src, encoding="utf-8") as f:
        lines = f.read().splitlines()
    header, rows = lines[0], lines[1:]
    out_dir = scratch_tmp("lms_days_")
    for i, chunk in enumerate([rows[:90], rows[90:]]):
        with open(os.path.join(out_dir, f"day{i}.csv"), "w", encoding="utf-8") as f:
            f.write("\n".join([header, *chunk]) + "\n")
    return out_dir


@register(
    "ext_stream_ingest",
    # The streaming replay must reproduce the BATCH clean exactly, so
    # it shares etl_clean_lms's hash-grade oracle (r4 upgrade from
    # rows-only: the r3 ETL oracles made this expressible — verified
    # exceptAll-identical both ways before wiring).
    # Direct indexing, not .get: a renamed key must raise at import
    # time, not silently downgrade the check to rows-only (ADVICE r4).
    oracle=ETL_ORACLES["etl_clean_lms"],
    doc=(
        "LMS daily-updates flow as Structured Streaming (SURVEY §2.8): "
        "CSV file source, one micro-batch per daily file, foreachBatch "
        "accumulation, batch cleaners applied over the accumulated "
        "whole — output ≡ batch pipeline on the union (also asserted "
        "in tests/test_streaming.py); hash-gated against the same "
        "DuckDB oracle as etl_clean_lms."
    ),
)
def ext_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    days_dir = split_lms_csv(f"{_REF}/data/lms_updates_expanded.csv")
    return stream_clean_lms(spark, days_dir, run_ts=_RUN_TS)


@register(
    "ext_stream_window",
    oracle=(
        "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, "
        "event_type, COUNT(*) AS n_events FROM events "
        "WHERE ts IS NOT NULL GROUP BY 1, 2"
    ),
    doc=(
        "Watermarked tumbling-window streaming aggregate executed with "
        "availableNow over static events; must hash-match the batch "
        "date_trunc oracle — the streaming/batch unification check."
    ),
)
def ext_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_window_counts(spark, sf_dir)


@register(
    "ext_stream_stateful",
    oracle=(
        "SELECT user_id, COUNT(*) AS n_events, "
        "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100 "
        "AS total_value "
        "FROM events GROUP BY user_id"
    ),
    doc=(
        "CUSTOM stateful streaming operator (applyInPandasWithState): "
        "per-user running counters in GroupState across two real "
        "micro-batches (events split by event_id parity, one file per "
        "trigger). Arrow-batched state function, update mode, "
        "availableNow. Oracle = the plain batch groupBy totals — the "
        "stateful streaming/batch unification law."
    ),
)
def ext_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.streaming.ingest import (
        stream_user_totals_stateful,
    )

    return stream_user_totals_stateful(spark, sf_dir)


@register(
    "ext_stream_topk",
    oracle=(
        "SELECT event_type, COUNT(*) AS n_events FROM events "
        "GROUP BY event_type ORDER BY n_events DESC, event_type LIMIT 5"
    ),
    doc=(
        "Streaming top-k (complete-mode ranking): the per-type counts "
        "re-rank on every micro-batch and the sink always holds the "
        "current top 5 — the live-dashboard pattern. Sort+limit is only "
        "legal in complete mode (append cannot retract a displaced "
        "row); at scale the complete-mode state is the AGGREGATE table "
        "(tiny), never the stream. Oracle = batch top-k with a pinned "
        "tie-break."
    ),
)
def ext_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.streaming.ingest import stream_topk_counts

    return stream_topk_counts(spark, sf_dir)


@register(
    "ext_stream_join",
    oracle=(
        "SELECT c_mktsegment, COUNT(*) AS n_events "
        "FROM events JOIN customer ON user_id = c_custkey "
        "GROUP BY c_mktsegment"
    ),
    doc=(
        "Stream-static enrichment join (enrich-on-ingest): the events "
        "stream broadcast-joins the static customer dimension per "
        "micro-batch, then a streaming aggregate counts per market "
        "segment. Oracle = the batch join+groupBy — the stream-static "
        "join unification law (streaming/ingest.py)."
    ),
)
def ext_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.streaming.ingest import stream_enrich_counts

    return stream_enrich_counts(spark, sf_dir)


@register(
    "ext_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc=(
        "Streaming exact dedup (dropDuplicates keyed by user_id + "
        "event_type) with state across two real micro-batches — a key's "
        "second arrival must not re-emit. Oracle = batch DISTINCT: the "
        "dedup streaming/batch unification law (streaming/ingest.py "
        "documents the watermark-bounded 100 TB variant)."
    ),
)
def ext_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.streaming.ingest import stream_distinct_keys

    return stream_distinct_keys(spark, sf_dir)


@register(
    "ext_stream_session",
    # Gap rule mirrors session_window's MICROSECOND-exact semantics,
    # pinned empirically (round 15): Spark merges at a gap of exactly
    # 1800.000000 s and splits strictly above it, so the oracle
    # compares epoch_us deltas. The earlier date_diff('second') form
    # counted whole-second boundary crossings and would MERGE a
    # fractional gap in (1800 s, 1801 s) that session_window splits —
    # latent until a data generation landed a gap in that zone (real
    # per-user gaps sit within 0.7 s of the boundary). NB this is
    # deliberately NOT ext_sessionize's rule: that batch pair uses
    # whole-second floors on BOTH sides (self-consistent); this oracle
    # must instead match what session_window actually computes.
    oracle=(
        "WITH flagged AS ("
        "  SELECT user_id, ts, event_id, "
        "  CASE WHEN lag(ts) OVER w IS NULL "
        "       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 "
        "  THEN 1 ELSE 0 END "
        "  AS new_session "
        "  FROM events WHERE ts IS NOT NULL "
        "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sessions AS ("
        "  SELECT user_id, ts, "
        "  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS UNBOUNDED PRECEDING) AS session_id FROM flagged) "
        "SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start, "
        "COUNT(*) AS n_events FROM sessions GROUP BY user_id, session_id"
    ),
    doc=(
        "STREAMING session windows (30-min gap) with stateful "
        "session_window + watermark, flushed via a sentinel far-future "
        "event so availableNow emits every session (streaming/ingest.py). "
        "Oracle = the batch lag/cumsum sessionization with the "
        "microsecond-exact gap rule — the streaming/batch unification "
        "law for session state."
    ),
)
def ext_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.streaming.ingest import stream_session_counts

    return stream_session_counts(spark, sf_dir)


# The arrival-wave rule of streaming/ingest.py::_arrival_batch, stated
# in DuckDB SQL (identical CASE twice because DuckDB < lateral alias).
_WAVE_CASE = (
    "CASE WHEN event_id % 13 = 0 AND ts < TIMESTAMP '2024-01-11 00:00:00' THEN 2 "
    "WHEN event_id % 7 = 0 AND ts < TIMESTAMP '2024-01-21 00:00:00' "
    "THEN (CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 0 "
    "WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 2 END) + 1 "
    "ELSE (CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 0 "
    "WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1 ELSE 2 END) END"
)


@register(
    "ext_stream_watermark_late",
    # Event-time replay of Spark's watermark state machine (verified
    # match at sf0.001 and sf0.01 before wiring): the late-row filter
    # in micro-batch b uses the watermark computed after batch b-2
    # (Spark's IncrementalExecution late-events watermark trails the
    # eviction watermark by one batch); watermark = max seen event
    # time floored to MILLISECONDS (EventTimeStatsAccum stores ms)
    # minus the 2h allowed lateness; a window is finalized/emitted
    # once window_end <= final watermark.
    oracle=(
        "WITH ev AS ("
        f"  SELECT ts, date_trunc('hour', ts) AS ws, {_WAVE_CASE} AS b FROM events), "
        "bmax AS (SELECT b, MAX(ts) AS mx FROM ev GROUP BY b), "
        "wmb AS ("
        "  SELECT t.b, "
        "    date_trunc('milliseconds', (SELECT MAX(mx) FROM bmax m WHERE m.b <= t.b - 2)) "
        "      - INTERVAL 2 HOUR AS wm "
        "  FROM (SELECT DISTINCT b FROM ev) t), "
        "fwm AS (SELECT date_trunc('milliseconds', MAX(mx)) - INTERVAL 2 HOUR AS wm "
        "        FROM bmax), "
        "acc AS ("
        "  SELECT ev.ws, COUNT(*) AS n_accepted "
        "  FROM ev JOIN wmb ON ev.b = wmb.b "
        "  WHERE wmb.wm IS NULL OR ev.ws + INTERVAL 1 HOUR > wmb.wm "
        "  GROUP BY ev.ws), "
        "tot AS (SELECT ws, COUNT(*) AS n_total FROM ev GROUP BY ws) "
        "SELECT CAST(acc.ws AS TIMESTAMP) AS window_start, n_accepted, "
        "n_total - n_accepted AS n_dropped_late "
        "FROM acc JOIN tot USING (ws), fwm "
        "WHERE acc.ws + INTERVAL 1 HOUR <= fwm.wm"
    ),
    doc=(
        "Allowed-lateness accounting under a real watermark (VERDICT "
        "r7 item 3): APPEND-mode 1h tumbling counts over three "
        "deterministic arrival waves (one-wave stragglers land inside "
        "the late-filter lag and are accepted; two-wave stragglers "
        "arrive after finalization and are dropped), joined to batch "
        "totals → per finalized window n_accepted vs n_dropped_late. "
        "Oracle = the event-time replay of the watermark state "
        "machine in SQL — the streaming ≡ batch late-data law "
        "(streaming/ingest.py::stream_watermark_late_counts)."
    ),
)
def ext_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.streaming.ingest import (
        stream_watermark_late_counts,
    )

    return stream_watermark_late_counts(spark, sf_dir)
