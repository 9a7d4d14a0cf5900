"""Hourly event series: the bucket tables every time-series operator
reads, and the per-user Arrow stage its recursions run in, each Spark
function next to its oracle-SQL twin (as in ``lsh.py``, ``vectors.py``,
``graph.py`` and ``sketches.py``).

One NULL rule: an event with a NULL series key or a NULL ``ts`` is not
a point, so it never reaches a bucket on either engine (a NULL key
would otherwise group as one series in Spark and fall out of every
DuckDB join or recursion on that key). Bucket times are
``date_trunc('hour', ts)`` as TIMESTAMP on both engines.

- per-user value series ``(user_id, bucket_ts, v_c100, n_events)``:
  ``hourly_cents`` | ``HOURLY_CENTS_SQL``. Cents are
  ``round(value * 100, 0)`` as BIGINT summed per bucket (never a raw
  double sum); a bucket whose values are all NULL has no cent sum and
  is dropped. ``n_events`` counts the bucket's events.
- per-type count series ``(event_type, bucket_ts, n)``:
  ``hourly_counts`` | ``HOURLY_COUNTS_SQL``.
- every hour of a series between its key's first and last bucket:
  ``dense_hours`` | ``dense_hours_sql``.
- the NULL rule itself, for an op that reads raw points:
  ``points`` | ``points_sql``.
- the per-user Arrow stage a sequential recursion runs in:
  ``per_user``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def points(events: DataFrame, key: str) -> DataFrame:
    """The events that are points of a series keyed on ``key``."""
    return events.filter(F.col(key).isNotNull() & F.col("ts").isNotNull())


def points_sql(key: str) -> str:
    """DuckDB twin of ``points``: its WHERE predicate."""
    return f"{key} IS NOT NULL AND ts IS NOT NULL"


HOURLY_CENTS_SQL = (
    "SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_ts, "
    "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v_c100, "
    "CAST(COUNT(*) AS BIGINT) AS n_events "
    f"FROM events WHERE {points_sql('user_id')} "
    "GROUP BY 1, 2 HAVING COUNT(value) > 0"
)

HOURLY_COUNTS_SQL = (
    "SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_ts, "
    "CAST(COUNT(*) AS BIGINT) AS n "
    f"FROM events WHERE {points_sql('event_type')} "
    "GROUP BY 1, 2"
)


def hourly_cents(events: DataFrame) -> DataFrame:
    """(user_id, bucket_ts, v_c100, n_events): one row per user-hour
    with a cent sum. One map-side-combinable aggregate; callers that
    drop ``n_events`` get it pruned from the aggregate."""
    return (
        points(events, "user_id")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v_c100"),
            F.count("*").alias("n_events"),
        )
        .filter(F.col("v_c100").isNotNull())
    )


def hourly_counts(events: DataFrame) -> DataFrame:
    """(event_type, bucket_ts, n): event count per type-hour."""
    return (
        points(events, "event_type")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(F.count("*").alias("n"))
    )


def dense_hours(series: DataFrame, key: str) -> DataFrame:
    """``series`` (key, bucket_ts, values...) plus every empty hour
    between a key's first and last bucket, its values NULL.

    Join-free: each bucket explodes into the hours since its key's
    previous bucket, so the series is read once, and the one
    key-partitioned exchange serves this window and every later
    window or aggregate on the key (subset rule). The textbook
    span-grid LEFT JOIN (``dense_hours_sql``) instantiates the series
    twice — two corpus scans — and adds a join."""
    hour = F.expr("INTERVAL 1 HOUR")
    values = [c for c in series.columns if c not in (key, "bucket_ts")]
    prev = F.lag("bucket_ts").over(Window.partitionBy(key).orderBy("bucket_ts"))
    # window first: Spark rejects a window nested under a generator
    return (
        series.repartition(key)
        .withColumn("start", F.coalesce(prev + hour, F.col("bucket_ts")))
        .select("*", F.explode(F.sequence("start", "bucket_ts", hour)).alias("h"))
        .select(
            key,
            F.col("h").alias("bucket_ts"),
            *[F.when(F.col("h") == F.col("bucket_ts"), F.col(c)).alias(c) for c in values],
        )
    )


def dense_hours_sql(src: str, key: str) -> str:
    """DuckDB twin of ``dense_hours`` over the relation ``src``."""
    return (
        f"SELECT g.{key}, g.bucket_ts, s.* EXCLUDE ({key}, bucket_ts) FROM ("
        f"SELECT {key}, unnest(generate_series(MIN(bucket_ts), MAX(bucket_ts), "
        f"INTERVAL 1 HOUR)) AS bucket_ts FROM {src} GROUP BY {key}) g "
        f"LEFT JOIN {src} s ON s.{key} = g.{key} AND s.bucket_ts = g.bucket_ts"
    )


def per_user(df: DataFrame, fn: Callable, schema: str) -> DataFrame:
    """``applyInPandas(fn, schema)`` per ``user_id`` at the session's
    full width.

    The input (a bucket table or a series' raw points) is BYTE-small
    but the per-user Python recursion is COMPUTE-heavy, and AQE
    coalesces shuffle reads on bytes: under the default profile it fed
    the whole applyInPandas stage to ONE Python worker (ts_ewma 6.52 s
    vs 1.02 s pinned at sf0.1, BASELINE §round-14). A user-specified
    repartition-by-num is the one exchange AQE may not coalesce, and it
    satisfies applyInPandas' hash requirement, so it replaces (not adds
    to) the grouping exchange."""
    width = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(width, "user_id").groupBy("user_id").applyInPandas(fn, schema)
