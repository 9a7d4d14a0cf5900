"""Coverage beyond the reference: OLAP staples the reference lacks.

SURVEY.md §2.4/§2.3 lists these as "not present in reference — Spark
built-ins if extensions want them": grouping sets / rollup / cube,
COUNT(DISTINCT), percentiles, ordered window frames + lead/lag, and
the join shapes (salted-skew, range, as-of) a 100 TB engine needs.
All oracle-checked.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.functions.scalars import exact_units
from duckdb_data_eng_proj_spark.operators.sketches import (
    doc_bucket100,
    doc_bucket100_sql,
    md5_int_sql,
)
from duckdb_data_eng_proj_spark.operators.textops import TOK_SQL, tokens
from duckdb_data_eng_proj_spark.operators.vectors import sorted_mean
from duckdb_data_eng_proj_spark.queries.registry import register, t

from duckdb_data_eng_proj_spark.io.scratch import scratch_dir as _scratch

# ---------------------------------------------------------------------------
# aggregates
# ---------------------------------------------------------------------------


@register(
    "agg_count_distinct",
    oracle=(
        "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers, "
        "COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority"
    ),
    doc=(
        "Exact COUNT(DISTINCT) per group: Spark expands this to a "
        "two-phase aggregate (distinct shuffle then count) — the exact "
        "path; approx_count_distinct (HLL) is the constant-memory "
        "100 TB alternative when ±2% is acceptable (not oracle-matched: "
        "engines' HLL sketches differ)."
    ),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_rollup",
    oracle=(
        "SELECT n_regionkey, n_nationkey, COUNT(*) AS cnt "
        "FROM nation GROUP BY ROLLUP(n_regionkey, n_nationkey)"
    ),
    doc="ROLLUP hierarchy totals (region → nation → grand total).",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = t(spark, sf_dir, "nation")
    return n.rollup("n_regionkey", "n_nationkey").agg(F.count("*").alias("cnt"))


@register(
    "agg_cube",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt "
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"
    ),
    doc="CUBE over two dimensions (all 4 grouping combinations).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("cnt"))


@register(
    "agg_grouping_sets",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))"
    ),
    doc="Explicit GROUPING SETS (two single-key sets in one pass).",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.io.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))"
    )


@register(
    "agg_percentile",
    oracle=(
        "SELECT o_orderpriority, "
        # Display roundings replay Spark's shortest-repr HALF_UP round
        # (r17 F.round halfway fix — tests/test_r17_laws.py)
        "CAST(round(CAST(CAST(quantile_cont(o_totalprice, 0.5) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS p50, "
        "CAST(round(CAST(CAST(quantile_cont(o_totalprice, 0.95) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS p95 "
        "FROM orders GROUP BY o_orderpriority"
    ),
    doc=(
        "Exact interpolated percentiles (Spark `percentile` ≡ DuckDB "
        "quantile_cont). Exact percentiles need the full sorted group — "
        "at 100 TB switch to approx_percentile (t-digest sketch, "
        "constant memory, mergeable across partitions)."
    ),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
    )


# ---------------------------------------------------------------------------
# ordered window frames
# ---------------------------------------------------------------------------


@register(
    "win_lead_lag_frames",
    oracle=(
        "SELECT user_id, event_id, "
        "lag(event_id) OVER w AS prev_event, "
        "lead(event_id) OVER w AS next_event, "
        "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS running_cents "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    ),
    doc=(
        "lead/lag + ordered ROWS frame running sum (exact integer "
        "cents — raw-double running sums are partition-order traps). "
        "One shuffle keyed by user_id; frames evaluate in a single "
        "sorted pass per partition."
    ),
)
def win_lead_lag_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # asc_nulls_last pins Spark to DuckDB's NULLS LAST (r17 sweep):
    # a NULL-ts row must rank last, not first, on an adversarial vintage
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents = exact_units(F.col("value"))
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.sum(cents).over(run).cast("long").alias("running_cents"),
    )


# ---------------------------------------------------------------------------
# join shapes for scale
# ---------------------------------------------------------------------------

_N_SALT = 8


@register(
    "join_salted_skew",
    oracle=(
        "SELECT o.o_orderpriority, COUNT(*) AS n_lines, "
        "CAST(SUM(CAST(round(l.l_quantity * 100, 0) AS BIGINT)) AS BIGINT) "
        "AS qty_cents "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderpriority"
    ),
    doc=(
        "Manually salted equi-join: the big side derives salt = key % 8, "
        "the small side explodes ×8 so every (key, salt) pair matches — "
        "one hot key becomes 8 parallel partitions. Result is provably "
        "identical to the plain join (the oracle IS the plain join). At "
        "100 TB prefer AQE skew-join (adaptive, no ×8 duplication); "
        "manual salting is for when one key dominates even a split."
    ),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_orderkey") % _N_SALT).cast("int")
    )
    o = (
        t(spark, sf_dir, "orders")
        .withColumn("salt", F.explode(F.array(*[F.lit(s) for s in range(_N_SALT)])))
    )
    joined = li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(exact_units(F.col("l_quantity")))
        .cast("long")
        .alias("qty_cents"),
    )


@register(
    "join_range",
    oracle=(
        "WITH buckets AS (SELECT * FROM (VALUES "
        "(0, 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0), (3, 40.0, 51.0)"
        ") AS b(bucket_id, lo, hi)) "
        "SELECT b.bucket_id, COUNT(*) AS n_lines "
        "FROM lineitem l JOIN buckets b "
        "ON l.l_quantity >= b.lo AND l.l_quantity < b.hi "
        "GROUP BY b.bucket_id"
    ),
    doc=(
        "Range (theta) join against a bucket table: broadcast "
        "nested-loop with the tiny range side. For two BIG range sides "
        "at scale: discretize ranges into grid cells and equi-join on "
        "cell id (turns NLJ into a hash join) — same pattern as the "
        "LSH bucket joins."
    ),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    buckets = li.sparkSession.createDataFrame(
        [(0, 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0), (3, 40.0, 51.0)],
        "bucket_id: int, lo: double, hi: double",
    )
    j = li.join(
        F.broadcast(buckets),
        (li.l_quantity >= buckets.lo) & (li.l_quantity < buckets.hi),
    )
    return j.groupBy("bucket_id").agg(F.count("*").alias("n_lines"))


@register(
    "join_asof",
    oracle=(
        "SELECT o.o_orderkey, o.o_custkey, "
        "(SELECT max(e.ts) FROM events e WHERE e.user_id = o.o_custkey "
        "AND e.ts <= o.o_orderdate) AS last_event_ts "
        "FROM orders o WHERE o.o_custkey <= 200"
    ),
    doc=(
        "As-of join (latest event per key at or before each order "
        "time), via the union-window formulation: tag both streams, "
        "union, one sort per key carries the last event time forward "
        "(last_value ignoring NULLs over ROWS UNBOUNDED PRECEDING), "
        "keep query rows. ONE shuffle total — no correlated subquery, "
        "no per-row probe; this is the scalable as-of shape (the "
        "oracle is the correlated-subquery spelling)."
    ),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    e = t(spark, sf_dir, "events")
    queries = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").cast("timestamp").alias("at_ts"),
        F.lit(1).alias("is_query"),
        F.col("o_orderkey"),
        F.lit(None).cast("timestamp").alias("event_ts"),
    )
    # A NULL-ts event can never satisfy `ts <= at_ts` — drop it here,
    # or last(ignorenulls) would carry its event_ts to every query row
    # (r17 NULL-vintage law caught this).
    updates = e.filter(F.col("ts").isNotNull()).select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("at_ts"),
        F.lit(0).alias("is_query"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("ts").alias("event_ts"),
    )
    # events sort before queries at equal timestamps → `<=` semantics.
    # Spark's default NULLS FIRST on at_ts is LOAD-BEARING (r17 sweep
    # exception): a NULL-date query must sort BEFORE all events so it
    # sees none — the oracle's `e.ts <= o.o_orderdate` is never true
    # for a NULL date. asc_nulls_last here would hand it the user's
    # full history instead.
    w = (
        Window.partitionBy("key")
        .orderBy("at_ts", "is_query")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = queries.unionByName(updates).withColumn(
        "last_event_ts", F.last("event_ts", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_query") == 1).select(
        "o_orderkey", F.col("key").alias("o_custkey"), "last_event_ts"
    )


# ---------------------------------------------------------------------------
# partitioned sink + pruned scan
# ---------------------------------------------------------------------------


def _orders_month_sink(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Write orders month-partitioned to scratch ``name`` and read it
    back (partition column re-pinned to string — partition-type
    inference would otherwise read '1995-06-01' back as DATE). Shared
    by snk_parquet_partitioned and join_dpp_pruned (r16 review — the
    two previously carried verbatim copies of this block, so a fix to
    one, e.g. the type pin, could miss the other).

    One shuffle keyed by the partition column → one file per month
    instead of (tasks × months) small files; at 100 TB the same move
    (plus a salt for hot months) is what keeps the layout scannable."""
    out = _scratch(name)
    o = t(spark, sf_dir, "orders").withColumn(
        "order_month", F.trunc("o_orderdate", "month").cast("string")
    )
    o.repartition("order_month").write.mode("overwrite").partitionBy(
        "order_month"
    ).parquet(out)
    return spark.read.parquet(out).withColumn(
        "order_month", F.col("order_month").cast("string")
    )


@register(
    "snk_parquet_partitioned",
    oracle=(
        "WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS VARCHAR) "
        "AS order_month FROM orders) "
        "SELECT order_month, COUNT(*) AS n_orders FROM m "
        "WHERE order_month >= '1995-06-01' GROUP BY order_month"
    ),
    doc=(
        "Partitioned parquet layout: write orders partitioned by order "
        "month, read back with a month filter — the read plan scans "
        "only the matching partition directories (partition pruning; "
        "the 100 TB table layout). The oracle states the round-trip's "
        "expected value (snk_csv_quoted pattern — the Spark result "
        "comes from the files actually written and read back, so a "
        "corrupted write fails the hash). Partition-column type "
        "inference would read '1995-06-01' back as DATE — pinned to "
        "string so layout choices never leak into the result schema."
    ),
)
def snk_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _orders_month_sink(spark, sf_dir, "orders_part_sink")
    return back.filter(F.col("order_month") >= "1995-06-01").groupBy(
        "order_month"
    ).agg(F.count("*").alias("n_orders"))


# ---------------------------------------------------------------------------
# string suite / JSON struct / vector centroids
# ---------------------------------------------------------------------------


@register(
    "fn_string_suite",
    oracle=(
        "SELECT c_custkey, "
        "levenshtein(lower(c_name), lower(c_mktsegment)) AS name_seg_dist, "
        "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key, "
        "split_part(c_name, '#', 2) AS name_suffix, "
        "left(c_mktsegment, 4) AS seg4, "
        "reverse(c_mktsegment) AS seg_rev, "
        "translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr, "
        "ascii(c_mktsegment) AS seg_ascii "
        "FROM customer"
    ),
    doc=(
        "Extended string-function suite beyond the reference's census "
        "(SURVEY §2.7): levenshtein (fuzzy-match verification for "
        "dedup), lpad, split_part, left, reverse, translate, ascii — "
        "all JVM built-ins, map-stage only."
    ),
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein(F.lower("c_name"), F.lower("c_mktsegment")).alias(
            "name_seg_dist"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_suffix"),
        F.expr("left(c_mktsegment, 4)").alias("seg4"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_tr"),
        F.ascii(F.col("c_mktsegment")).alias("seg_ascii"),
    )


@register(
    "js_from_json",
    oracle=(
        # json_valid guards (r17 malformed-props vintage): Spark's
        # from_json/json_object_keys NULL invalid JSON while DuckDB's
        # json fns THROW — tolerant parsing is the spec
        "WITH p AS (SELECT event_id, "
        "CASE WHEN json_valid(props) THEN props END AS props FROM events) "
        "SELECT event_id, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS k_value, "
        "CAST(len(json_keys(props)) AS INT) AS n_keys, "
        "CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50 "
        "THEN 'high' ELSE 'low' END AS k_band "
        "FROM p"
    ),
    doc=(
        "Typed JSON parsing (beyond ext_json_extract's string path): "
        "from_json with an explicit schema → struct field access + "
        "key census. Schema-on-read stays a map stage; at scale parse "
        "once, persist the struct column."
    ),
)
def js_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    keys = F.json_object_keys("props")
    return e.select(
        "event_id",
        parsed["k"].alias("k_value"),
        F.size(keys).alias("n_keys"),
        F.when(parsed["k"] >= 50, "high").otherwise("low").alias("k_band"),
    )


@register(
    "vec_centroid_label",
    oracle=(
        "SELECT label, i AS pos, "
        "CAST(round(CAST(CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_sort(list(CAST(embedding[i+1] AS DOUBLE)))), (a, b) -> a + b) "
        "/ COUNT(*) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS centroid "
        # fixed-dim contract (r17): the 64-dim unnest NULLs missing dims
        # where Spark's posexplode drops them
        "FROM embeddings, range(64) t(i) "
        "WHERE len(embedding) = 64 GROUP BY label, i"
    ),
    doc=(
        "Per-label centroid of every embedding dimension — the k-means "
        "update step / IVF training primitive. Cross-engine exactness "
        "for a double mean under parallelism: collect the group's "
        "values, SORT them, then fold sequentially — the sorted fold "
        "is partition-order independent and identical in both engines. "
        "At 100 TB swap to treeAggregate-style partial means when "
        "bitwise parity isn't required; the plan stays one shuffle "
        "keyed by (label, dim)."
    ),
)
def vec_centroid_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").filter(F.size("embedding") == 64)
    exploded = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    return exploded.groupBy("label", "pos").agg(
        F.round(sorted_mean(F.col("val")), 6).alias("centroid")
    )


# ---------------------------------------------------------------------------
# pivot / set ops / range frames
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@register(
    "agg_pivot",
    oracle=(
        "SELECT user_id, "
        + ", ".join(
            f"COUNT(*) FILTER (event_type = '{et}') AS n_{et}"
            for et in _EVENT_TYPES
        )
        + " FROM events GROUP BY user_id"
    ),
    doc=(
        "PIVOT: events long→wide per user (one column per event type). "
        "Spark's .pivot() with an explicit value list compiles to the "
        "same single-pass conditional aggregation as the oracle's "
        "FILTER form — explicit values keep it one pass (omitting them "
        "adds a distinct-values job)."
    ),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    p = (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "user_id",
        *[F.coalesce(F.col(et), F.lit(0)).alias(f"n_{et}") for et in _EVENT_TYPES],
    )


@register(
    "set_intersect_except",
    oracle=(
        "WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000), "
        "recent AS (SELECT o_custkey FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '2000-01-01') "
        "SELECT 'both' AS which, o_custkey FROM (SELECT o_custkey FROM hi "
        "INTERSECT SELECT o_custkey FROM recent) "
        "UNION ALL "
        "SELECT 'hi_only' AS which, o_custkey FROM (SELECT o_custkey FROM hi "
        "EXCEPT SELECT o_custkey FROM recent)"
    ),
    doc=(
        "INTERSECT / EXCEPT (absent from the reference, SURVEY §2.6): "
        "distinct set semantics incl. NULL-equality; Spark plans both "
        "as aggregated semi/anti joins."
    ),
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    both = hi.intersect(recent).select(F.lit("both").alias("which"), "o_custkey")
    hi_only = hi.subtract(recent).select(
        F.lit("hi_only").alias("which"), "o_custkey"
    )
    return both.unionByName(hi_only)


@register(
    "win_range_frame",
    oracle=(
        "SELECT user_id, event_id, "
        "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER ("
        # floor() matches Spark's cast(ts AS long) truncation; DuckDB's
        # bare CAST(DOUBLE AS BIGINT) rounds to nearest, which shifts a
        # ≥.5-fraction event by 1s and can move it across a frame edge.
        "PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS cents_last_hour "
        "FROM events"
    ),
    doc=(
        "Time-based RANGE frame: per user, rolling sum of the trailing "
        "hour (exact integer cents). The frame is value-based on epoch "
        "seconds — rows at equal timestamps share a frame, unlike ROWS. "
        "One shuffle keyed by user_id, single sorted pass."
    ),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    cents = exact_units(F.col("value"))
    return e.select(
        "user_id",
        "event_id",
        F.sum(cents).over(w).cast("long").alias("cents_last_hour"),
    )


@register(
    "join_bucketed_colocated",
    oracle=(
        "SELECT c.c_mktsegment, COUNT(*) AS n_orders, "
        "CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) "
        "/ 100 AS total_price "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment"
    ),
    doc=(
        "BUCKETED co-located join — the core 100 TB join strategy: "
        "both tables are written with bucketBy(8, custkey)+sortBy into "
        "the warehouse, so a merge join on the bucket key needs NO "
        "exchange and NO sort on either side (bucket files are "
        "pre-hashed and pre-sorted). The only shuffle in the whole "
        "plan is the final mktsegment aggregate — pinned by the "
        "plan-shape test. The merge hint keeps Spark from broadcasting "
        "(which would hide the bucketing; at 100 TB neither side "
        "broadcasts anyway). Writes are idempotent across fresh "
        "sessions (drop catalog entry + orphaned location first)."
    ),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.io.scratch import graft_warehouse

    # shared warehouse helper: one location literal repo-wide (r16
    # review — CREATE DATABASE IF NOT EXISTS ignores LOCATION when the
    # db exists, so per-op literals could silently diverge)
    graft_warehouse(spark, "orders_bkt", "customer_bkt")
    for name, df, key in (
        ("orders_bkt", t(spark, sf_dir, "orders"), "o_custkey"),
        ("customer_bkt", t(spark, sf_dir, "customer"), "c_custkey"),
    ):
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(f"graft_wh.{name}")
        )
    ob = spark.table("graft_wh.orders_bkt")
    cb = spark.table("graft_wh.customer_bkt")
    joined = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        (F.sum(exact_units(F.col("o_totalprice"))).cast("double") / 100).alias(
            "total_price"
        ),
    )


@register(
    "win_rank_suite",
    oracle=(
        "SELECT o_orderkey, o_orderpriority, "
        "ntile(4) OVER w AS quartile, "
        "CAST(round(CAST(CAST(percent_rank() OVER w AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS pct_rank, "
        "CAST(round(CAST(CAST(cume_dist() OVER w AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS cdist, "
        "first_value(o_orderkey) OVER w AS cheapest_key, "
        "last_value(o_orderkey) OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_totalprice, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
        "AS priciest_key "
        "FROM orders WHERE o_orderkey < 3000 "
        "WINDOW w AS (PARTITION BY o_orderpriority "
        "ORDER BY o_totalprice, o_orderkey)"
    ),
    doc=(
        "Ranking-window suite (ntile / percent_rank / cume_dist / "
        "first_value / last_value): total order pinned by the "
        "(price, key) tie-break so every function is deterministic; "
        "last_value gets an explicit unbounded frame (the default "
        "frame stops at CURRENT ROW — a classic silent-wrong-answer "
        "trap, identical in both engines). One shuffle keyed by "
        "priority, one sorted pass."
    ),
)
def win_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    # asc_nulls_last: DuckDB ranks NULL prices last (r17 sweep)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), "o_orderkey"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cdist"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


@register(
    "fn_array_suite",
    oracle=(
        # tokenizer fragment single-sourced from operators/textops
        # (r16 review — this was the one remaining inline copy)
        f"WITH toks AS (SELECT doc_id, {TOK_SQL} AS tk "
        "FROM documents WHERE doc_id < 200) "
        "SELECT doc_id, "
        "CAST(len(tk) AS INT) AS n_tokens, "
        "list_contains(tk, 'the') AS has_the, "
        "CAST(coalesce(list_position(tk, 'the'), 0) AS INT) AS the_pos, "
        "coalesce(array_to_string(list_sort(list_distinct(tk)), '|'), '') AS vocab, "
        "coalesce(array_to_string(tk[1:3], '|'), '') AS first3, "
        "coalesce(array_to_string(list_sort("
        "list_intersect(tk, ['the', 'a', 'and', 'of'])), '|'), '') "
        "AS stop_hits "
        "FROM toks"
    ),
    doc=(
        "Array-function suite over the token column: size / contains / "
        "position (DuckDB returns NULL for a miss, Spark returns 0 — "
        "shimmed to 0 on both sides) / distinct / slice / intersect. "
        "Set-producing results are sorted on both sides: DuckDB "
        "list_distinct does NOT preserve first-occurrence order, so "
        "unsorted set outputs are a cross-engine hash trap. List "
        "outputs are '|'-joined to strings (array_join ≡ "
        "array_to_string): the driver's pandas canonicalizer cannot "
        "sort container cells (unhashable 'list' — the exact trap "
        "fn_struct_access's docstring warns about, and the same fix "
        "etl_quality_report needed). Second trap: DuckDB "
        "array_to_string([]) is NULL while Spark array_join([]) is '' "
        "— both sides coalesce to ''. Pure narrow map stage."
    ),
)
def fn_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tk = tokens(F.col("text"))
    d = d.select("doc_id", tk.alias("tk"))
    stop = F.array(F.lit("the"), F.lit("a"), F.lit("and"), F.lit("of"))
    return d.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.array_contains("tk", "the").alias("has_the"),
        F.array_position("tk", "the").cast("int").alias("the_pos"),
        F.coalesce(F.array_join(F.array_sort(F.array_distinct("tk")), "|"), F.lit(""))
        .alias("vocab"),
        F.coalesce(F.array_join(F.slice("tk", 1, 3), "|"), F.lit("")).alias("first3"),
        F.coalesce(F.array_join(F.array_sort(F.array_intersect("tk", stop)), "|"), F.lit(""))
        .alias("stop_hits"),
    )


@register(
    "fn_map_suite",
    oracle=(
        "SELECT o_orderkey, "
        "map(['prio', 'status'], [o_orderpriority, o_orderstatus])['prio'][1] "
        "AS prio_val, "
        "map(['prio', 'status'], [o_orderpriority, o_orderstatus])['missing'][1] "
        "AS missing_val, "
        "array_to_string(list_sort(map_keys(map(['prio', 'status'], "
        "[o_orderpriority, o_orderstatus]))), '|') AS keys_sorted, "
        "CAST(cardinality(map(['prio', 'status'], "
        "[o_orderpriority, o_orderstatus])) AS INT) AS n_entries "
        "FROM orders WHERE o_orderkey < 2000"
    ),
    doc=(
        "Map-function suite: construction, key lookup (DuckDB map "
        "extraction yields a LIST — [1] unwraps it; a missing key is "
        "[] → NULL, matching Spark's element_at NULL), sorted key set "
        "(map key order is construction order on both engines — sort "
        "before comparing, then '|'-join: the driver canonicalizer "
        "cannot sort container cells), cardinality (DuckDB UBIGINT → "
        "pinned INT). Narrow map stage."
    ),
)
def fn_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    m = F.create_map(
        F.lit("prio"), F.col("o_orderpriority"),
        F.lit("status"), F.col("o_orderstatus"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "prio").alias("prio_val"),
        F.element_at(m, "missing").alias("missing_val"),
        F.array_join(F.array_sort(F.map_keys(m)), "|").alias("keys_sorted"),
        F.size(m).alias("n_entries"),
    )


@register(
    "fn_struct_access",
    oracle=(
        "WITH s AS (SELECT o_orderkey, "
        "{'prio': o_orderpriority, "
        "'money': {'cents': CAST(round(o_totalprice * 100, 0) AS BIGINT)}} "
        "AS info FROM orders WHERE o_orderkey < 2000) "
        "SELECT o_orderkey, info.prio AS prio, "
        "info.money.cents AS cents, "
        "CAST(info.money.cents AS DOUBLE) / 100 AS price "
        "FROM s"
    ),
    doc=(
        "Nested-struct construction and dotted field access (two "
        "levels): struct_pack ≡ F.struct with aliased fields; outputs "
        "are extracted scalars (struct-typed result columns would hit "
        "the driver hasher's struct serialization, an untested "
        "surface — extract, don't emit containers)."
    ),
)
def fn_struct_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    info = F.struct(
        F.col("o_orderpriority").alias("prio"),
        F.struct(exact_units(F.col("o_totalprice")).alias("cents")).alias("money"),
    )
    s = o.select("o_orderkey", info.alias("info"))
    return s.select(
        "o_orderkey",
        F.col("info.prio").alias("prio"),
        F.col("info.money.cents").alias("cents"),
        (F.col("info.money.cents").cast("double") / 100).alias("price"),
    )


@register(
    "ext_split_train",
    oracle=(
        f"WITH b AS (SELECT doc_id, {doc_bucket100_sql('doc_id')} "
        "AS bucket FROM documents) "
        "SELECT doc_id, bucket, "
        "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' "
        "ELSE 'test' END AS split FROM b"
    ),
    doc=(
        "Deterministic train/valid/test assignment (90/5/5) by hashing "
        "the stable document id — the standard leakage-safe split for "
        "training corpora: reproducible across engines, runs, and "
        "repartitions (md5 is the shared cross-engine hash; Spark's "
        "built-in hash() and DuckDB's hash() are engine-specific and "
        "must never gate a split). Pure narrow map; at 100 TB the "
        "split column doubles as a partition key for the output "
        "layout."
    ),
)
def ext_split_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = doc_bucket100(F.col("doc_id"))
    return d.select("doc_id", bucket.alias("bucket")).select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "fn_datetime_suite",
    oracle=(
        "SELECT o_orderkey, "
        "CAST(dayofweek(o_orderdate) AS INT) AS dow_sun0, "
        "CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s, "
        "CAST(weekofyear(o_orderdate) AS INT) AS iso_week, "
        "CAST(quarter(o_orderdate) AS INT) AS qtr, "
        "last_day(o_orderdate) AS month_end, "
        "CAST(o_orderdate + INTERVAL 7 DAY AS TIMESTAMP) AS plus_week, "
        "CAST(date_diff('day', o_orderdate, TIMESTAMP '2001-01-01') AS INT) "
        "AS days_to_2001 "
        "FROM orders WHERE o_orderkey < 2000"
    ),
    doc=(
        "Datetime suite with every cross-engine trap shimmed at point "
        "of use: day-of-week numbering (Spark 1-7 Sunday=1, DuckDB 0-6 "
        "Sunday=0 → emit Sunday=0), epoch seconds (DuckDB DOUBLE → "
        "BIGINT), ISO week + quarter (already agree), last_day (DATE "
        "both), date arithmetic via +7d (Spark date_add returns DATE → "
        "cast TIMESTAMP), day diff (datediff ≡ date_diff('day'))."
    ),
)
def fn_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        (F.dayofweek(d) - 1).cast("int").alias("dow_sun0"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.quarter(d).cast("int").alias("qtr"),
        F.last_day(d).alias("month_end"),
        F.date_add(d.cast("date"), 7).cast("timestamp").alias("plus_week"),
        F.datediff(F.lit("2001-01-01").cast("date"), d.cast("date"))
        .cast("int")
        .alias("days_to_2001"),
    )


@register(
    "agg_argminmax",
    oracle=(
        "SELECT o_orderpriority, "
        "arg_max(o_orderkey, printf('%013d%012d', "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + 1000000000000, o_orderkey)) "
        "AS priciest_key, "
        "arg_min(o_orderkey, printf('%013d%012d', "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + 1000000000000, o_orderkey)) "
        "AS cheapest_key, "
        "CAST(max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 "
        "AS max_price "
        # NULL-price rows excluded (r17 hostile vintage): Spark's
        # min_by treats a NULL ordering key as smallest where DuckDB's
        # arg_min ignores it — a priceless order can be neither
        # priciest nor cheapest on either engine
        "FROM orders WHERE o_totalprice IS NOT NULL "
        "GROUP BY o_orderpriority"
    ),
    doc=(
        "arg_max/arg_min (max_by/min_by) with a DETERMINISTIC composite "
        "ordering key: tie-break encoded as a zero-padded sortable "
        "string (cents ++ orderkey) because neither engine defines "
        "arg_max tie behavior and DuckDB's arg_max takes no composite "
        "key — lexicographic padded strings give both engines the same "
        "total order. The cents field is biased by +10¹² into a fixed "
        "13-digit non-negative band so the encoding stays monotone for "
        "negative prices too (a bare '-'-prefixed field would break "
        "lexicographic order — ADVICE r2); provably correct for "
        "|cents| < 10¹². Single shuffle, map-side combinable."
    ),
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    key = F.format_string(
        "%013d%012d",
        exact_units(F.col("o_totalprice")) + F.lit(1000000000000),
        F.col("o_orderkey"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", key).alias("priciest_key"),
        F.min_by("o_orderkey", key).alias("cheapest_key"),
        (F.max(exact_units(F.col("o_totalprice"))).cast("double") / 100).alias(
            "max_price"
        ),
    )


@register(
    "snk_json_lines",
    oracle=(
        "SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars "
        "FROM documents WHERE doc_id < 300"
    ),
    doc=(
        "JSONL sink round-trip — the training-corpus interchange "
        "format: a documents slice is written as newline-delimited "
        "JSON (one object per line, text newlines escaped by the "
        "writer), read back with an explicit schema (schema-on-read — "
        "never infer in production), and projected. Values must "
        "survive the round-trip exactly; doubles are deliberately "
        "excluded from the payload (JSON float text is not a stable "
        "cross-engine contract — parquet is the typed format, JSONL "
        "is for interchange)."
    ),
)
def snk_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("docs_jsonl")
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "lang", "text")
    )
    d.coalesce(1).write.mode("overwrite").json(path)
    back = spark.read.schema("doc_id bigint, lang string, text string").json(path)
    return back.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


_SYNTH_VOCAB_SQL = (
    "['loan','rate','credit','risk','score','branch','region','term',"
    "'amount','balance','payment','default','officer','audit','ledger']"
)


@register(
    "src_python_datasource",
    oracle=(
        "WITH ids AS (SELECT unnest(generate_series(0, 999)) AS doc_id), "
        "w AS (SELECT doc_id, 5 + "
        + md5_int_sql("CAST(doc_id AS VARCHAR) || ':len'", 1, 4)
        + " % 20 AS n_words FROM ids), "
        "words AS (SELECT doc_id, n_words, j, "
        f"list_extract({_SYNTH_VOCAB_SQL}, "
        + md5_int_sql("CAST(doc_id AS VARCHAR) || ':' || j", 1, 4)
        + " % 15 + 1) AS wd "
        "FROM w, unnest(generate_series(0, n_words - 1)) AS t(j)) "
        "SELECT doc_id, string_agg(wd, ' ' ORDER BY j) AS text, "
        "CAST(any_value(n_words) AS INT) AS n_words "
        "FROM words GROUP BY doc_id"
    ),
    doc=(
        "Custom Python DataSource (Spark 4 pyspark.sql.datasource API — "
        "io/pydatasource.py): a partitioned synthetic-corpus source "
        "registered as format 'synthdocs'. Every value is a pure "
        "function of doc_id (seeded md5 stream), so the DuckDB oracle "
        "regenerates the identical table in SQL and the custom source "
        "is hash-verified end-to-end. The reader exposes real "
        "partitions (one task each) — rows enter the Catalyst pipeline "
        "distributed, never via a driver-side collect; the same shape "
        "wraps any system lacking a native connector."
    ),
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    from duckdb_data_eng_proj_spark.io.pydatasource import SynthDocsSource

    # register() is idempotent (re-registering overwrites, verified
    # empirically r16) — the old blanket try/except here also swallowed
    # GENUINE registration failures, surfacing them later as an opaque
    # DATA_SOURCE_NOT_FOUND at read time with the root cause lost.
    spark.dataSource.register(SynthDocsSource)
    return (
        spark.read.format("synthdocs")
        .option("n_docs", 1000)
        .option("n_parts", 8)
        .load()
    )


# ---------------------------------------------------------------------------
# warehouse maintenance: SCD-2 history + MERGE-style upsert
# ---------------------------------------------------------------------------


@register(
    "etl_scd2",
    oracle=(
        "WITH ordered AS (SELECT user_id, ts, event_type, "
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "AS prev_type, event_id "
        "FROM events), "
        "changes AS (SELECT user_id, ts, event_type, event_id FROM ordered "
        "WHERE prev_type IS NULL OR event_type <> prev_type), "
        "versioned AS (SELECT user_id, event_type, "
        "CAST(ts AS TIMESTAMP) AS valid_from, "
        "CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
        "AS TIMESTAMP) AS valid_to FROM changes) "
        "SELECT user_id, event_type, valid_from, valid_to, "
        "valid_to IS NULL AS is_current FROM versioned"
    ),
    doc=(
        "Slowly-changing-dimension type 2 from a change stream: "
        "per-entity event sequence → drop no-op repeats (value equal to "
        "its predecessor) → [valid_from, valid_to) version intervals "
        "via lead(), open interval = current row. Two window passes "
        "over ONE shuffle: both windows key on user_id, so the second "
        "reuses the first's partitioning (exchange reuse verified in "
        "test_plan_shape). This is the batch-refresh half of warehouse "
        "dimension maintenance; the streaming half is ext_stream_dedup-"
        "style state keyed the same way."
    ),
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # asc_nulls_last pins Spark to DuckDB's NULLS LAST (r17 sweep):
    # a NULL-ts row must rank last, not first, on an adversarial vintage
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    changes = (
        e.select(
            "user_id",
            "ts",
            "event_type",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


@register(
    "etl_upsert",
    oracle=(
        "WITH updates AS ("
        "SELECT c_custkey, 'UPDATED' AS c_mktsegment FROM customer "
        "WHERE c_custkey % 10 = 0 "
        "UNION ALL "
        "SELECT c_custkey + 1000000, 'INSERTED' FROM customer "
        "WHERE c_custkey % 100 = 0) "
        "SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey, "
        "coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment, "
        "u.c_custkey IS NOT NULL AS was_upserted "
        "FROM customer b FULL OUTER JOIN updates u "
        "ON b.c_custkey = u.c_custkey"
    ),
    doc=(
        "MERGE-style upsert as a full-outer join: matched keys take the "
        "update's values, unmatched-left keep the base row, "
        "unmatched-right are inserts — the exact WHEN MATCHED / NOT "
        "MATCHED split of SQL MERGE, expressed engine-neutrally. At "
        "100 TB the same plan runs as a shuffle join on the key (or "
        "co-located on a bucketed base table — join_bucketed_colocated); "
        "format-native MERGE (Delta/Iceberg) adds file-level pruning on "
        "top but the row semantics are these."
    ),
)
def etl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    c = t(spark, sf_dir, "customer")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.lit("UPDATED").alias("c_mktsegment"))
        .unionByName(
            c.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("INSERTED").alias("c_mktsegment"),
            )
        )
    )
    j = base.alias("b").join(
        updates.alias("u"),
        F.col("b.c_custkey") == F.col("u.c_custkey"),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("u.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.c_mktsegment"), F.col("b.c_mktsegment")).alias(
            "c_mktsegment"
        ),
        F.col("u.c_custkey").isNotNull().alias("was_upserted"),
    )


@register(
    "snk_orc_roundtrip",
    oracle=(
        "SELECT o_orderstatus, COUNT(*) AS n, "
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) "
        "AS cents FROM orders WHERE o_orderkey < 5000 GROUP BY o_orderstatus"
    ),
    doc=(
        "ORC sink round-trip (Spark's second built-in columnar format, "
        "zero extra dependencies): write an orders slice as ORC, read "
        "it back, aggregate. Oracle states the round-trip's expected "
        "value (snk_csv_quoted pattern — DuckDB has no ORC reader, and "
        "the Spark result comes from the files actually written, so a "
        "corrupted write fails the hash). Same layout disciplines as "
        "parquet apply at 100 TB: partition columns, predicate pushdown "
        "via ORC row-group stats, one file per partition."
    ),
)
def snk_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch("orders_orc_sink")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(exact_units(F.col("o_totalprice"))).cast("long").alias("cents"),
    )


@register(
    "fn_bitwise_suite",
    oracle=(
        "SELECT o_orderkey, "
        "o_orderkey & 255 AS low_byte, "
        "o_orderkey | 4096 AS set_bit, "
        "xor(o_orderkey, 255) AS flipped, "
        "o_orderkey << 2 AS shl, "
        "o_orderkey >> 3 AS shr, "
        "CAST(bit_count(o_orderkey) AS INT) AS popcount "
        "FROM orders WHERE o_orderkey < 3000"
    ),
    doc=(
        "Bitwise-function suite (AND/OR/XOR, shifts, popcount) — the "
        "primitives behind the engine's own hash partitioning, bloom "
        "filters, and the simhash/bitmask operators. DuckDB spells XOR "
        "as xor(); shifts and popcount agree on BIGINT semantics. Pure "
        "narrow map stage."
    ),
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("set_bit"),
        k.bitwiseXOR(F.lit(255)).alias("flipped"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).cast("int").alias("popcount"),
    )


@register(
    "agg_stats_exact",
    oracle=(
        "WITH m AS (SELECT o_orderpriority, "
        "COUNT(*) AS n, "
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) "
        "AS s1, "
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS HUGEINT) * "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) AS s2d "
        "FROM orders GROUP BY o_orderpriority) "
        "SELECT o_orderpriority, n, "
        "CAST(round(CAST(CAST(CAST(s1 AS DOUBLE) / n / 100 AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS mean_eur, "
        "CAST(round(CAST(CAST(sqrt(greatest(0, (s2d - CAST(s1 AS DOUBLE) * s1 / n) / n)) "
        "/ 100 AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS stddev_pop_eur "
        "FROM m"
    ),
    doc=(
        "Population mean/stddev made cross-engine EXACT: the float "
        "aggregates (avg, stddev_pop) are summation-order-dependent and "
        "can hash-differ between engines, so the moments are "
        "accumulated as exact integer cent sums (Σx, Σx²) — map-side "
        "combinable, one shuffle — and the statistics derived from "
        "those scalars in identical double arithmetic. Σx² is exact "
        "end-to-end: the PRODUCT is widened before multiplying (Spark "
        "DECIMAL(18,0)² → DECIMAL(37,0), DuckDB HUGEINT·BIGINT — a "
        "64-bit product would abort under ANSI past ~3e9 cents, r16 "
        "review), the sum accumulates 128-bit wide, and the result is "
        "converted to double only at the final scalar step "
        "— exact-integer→nearest-double is deterministic IEEE on both "
        "engines, and no DECIMAL/HUGEINT reaches a result column. The "
        "pattern generalizes to corr/covar: exact integer moment sums "
        "first, float math on scalars last."
    ),
)
def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cents = exact_units(F.col("o_totalprice"))
    # Widen BEFORE multiplying (r16 review): LONG·LONG evaluates in
    # 64-bit first — under ANSI a row with |cents| >= ~3.04e9 aborts
    # the query before the decimal cast ever sees the product.
    # DECIMAL(18,0)² → DECIMAL(37,0) is exact; the oracle widens the
    # same product to HUGEINT. Both stay intermediate-only (no
    # DECIMAL/HUGEINT result column — the type-sweep rule).
    c18 = cents.cast("decimal(18,0)")
    m = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(cents).cast("long").alias("s1"),
        F.sum((c18 * c18).cast("decimal(38,0)")).cast("double").alias("s2d"),
    )
    s1d = F.col("s1").cast("double")
    nd = F.col("n")
    return m.select(
        "o_orderpriority",
        "n",
        F.round(s1d / nd / 100, 4).alias("mean_eur"),
        # variance clamped at 0 on BOTH engines (r17): the exact-moment
        # closed form can go -epsilon in double on a constant-price
        # group, and sqrt(-eps) = NaN splits the engines
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0), (F.col("s2d") - s1d * F.col("s1") / nd) / nd
                )
            )
            / 100,
            4,
        ).alias("stddev_pop_eur"),
    )


@register(
    "agg_corr_exact",
    oracle=(
        "WITH m AS (SELECT l_returnflag, COUNT(*) AS n, "
        "CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS sx, "
        "CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) "
        "AS sy, "
        "CAST(SUM(CAST(round(l_quantity * 100, 0) AS HUGEINT) * "
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS sxy, "
        "CAST(SUM(CAST(round(l_quantity * 100, 0) AS HUGEINT) * "
        "CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) AS sxx, "
        "CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS HUGEINT) * "
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) AS syy "
        "FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, n, "
        "CASE WHEN (sxx - CAST(sx AS DOUBLE) * sx / n) > 0 "
        "AND (syy - CAST(sy AS DOUBLE) * sy / n) > 0 "
        "THEN CAST(round(CAST(CAST((sxy - CAST(sx AS DOUBLE) * sy / n) / "
        "sqrt((sxx - CAST(sx AS DOUBLE) * sx / n) * "
        "(syy - CAST(sy AS DOUBLE) * sy / n)) "
        "AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) END AS corr_qty_price "
        "FROM m"
    ),
    doc=(
        "Pearson correlation (quantity vs extended price per return "
        "flag) via the same exact-moment pattern as agg_stats_exact: "
        "five integer cent moment sums (Σx, Σy, Σxy, Σx², Σy² — the "
        "cross/squared sums 128-bit wide), correlation derived from "
        "the scalars in identical double arithmetic. Spark's corr() "
        "and DuckDB's corr() would hash-differ on summation order; "
        "this is order-independent and map-side combinable — ONE "
        "shuffle for a statistic engines usually can't cross-verify."
    ),
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    x = exact_units(F.col("l_quantity"))
    y = exact_units(F.col("l_extendedprice"))
    # Widen BEFORE multiplying — agg_stats_exact's r16 rule (LONG·LONG
    # aborts under ANSI past ~3e9 cents); oracle widens to HUGEINT.
    x18, y18 = x.cast("decimal(18,0)"), y.cast("decimal(18,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum((x18 * y18).cast("decimal(38,0)")).cast("double").alias("sxy"),
        F.sum((x18 * x18).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((y18 * y18).cast("decimal(38,0)")).cast("double").alias("syy"),
    )
    sxd, syd, nd = F.col("sx").cast("double"), F.col("sy").cast("double"), F.col("n")
    cov = F.col("sxy") - sxd * F.col("sy") / nd
    vx = F.col("sxx") - sxd * F.col("sx") / nd
    vy = F.col("syy") - syd * F.col("sy") / nd
    # correlation is UNDEFINED on a zero-variance side (r17: Spark's
    # ANSI double division aborts on /0 where DuckDB yields NaN/inf —
    # a loud cross-engine split on any constant-column vintage): both
    # engines emit NULL unless both variances are strictly positive.
    return m.select(
        "l_returnflag",
        "n",
        F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)).alias(
            "corr_qty_price"
        ),
    )


@register(
    "src_jsonl_roundtrip",
    oracle=(
        "SELECT doc_id, lang, source, n_chars FROM documents "
        "WHERE doc_id < 300"
    ),
    doc=(
        "JSON-Lines source contract: write a documents slice as JSONL, "
        "read it back with an EXPLICIT schema (never inferred — schema "
        "inference is a full extra pass over 100 TB and non-"
        "deterministic under schema drift) plus PERMISSIVE mode, the "
        "JSON twin of the all-VARCHAR CSV quarantine contract "
        "(io/sources.py): malformed lines land in a corrupt-record "
        "column instead of failing the scan. Oracle states the "
        "round-trip identity (snk_csv_quoted pattern)."
    ),
)
def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch("documents_jsonl")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d.select("doc_id", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).json(out)
    back = (
        spark.read.schema(
            "doc_id bigint, lang string, source string, n_chars bigint, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return back.filter(F.col("_corrupt_record").isNull()).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "agg_histogram",
    oracle=(
        "WITH b AS (SELECT o_orderpriority, "
        "CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bucket "
        "FROM orders) "
        "SELECT o_orderpriority, bucket, COUNT(*) AS n "
        "FROM b GROUP BY o_orderpriority, bucket"
    ),
    doc=(
        "Equi-width histogram (50k-EUR buckets, top-coded at bucket 9) "
        "per priority — the profiling staple behind optimizer stats "
        "and data-quality dashboards. floor-division bucketing is "
        "engine-identical; one shuffle with map-side combine, output "
        "bounded by buckets × groups regardless of input size."
    ),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("int")
    return (
        o.select("o_orderpriority", bucket.alias("bucket"))
        .groupBy("o_orderpriority", "bucket")
        .agg(F.count("*").alias("n"))
    )


@register(
    "join_dpp_pruned",
    oracle=(
        "WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS VARCHAR) "
        "AS order_month FROM orders) "
        "SELECT order_month, COUNT(*) AS n_orders FROM m "
        "WHERE order_month >= '1997-01-01' GROUP BY order_month"
    ),
    doc=(
        "Dynamic partition pruning — THE 100 TB scan-reduction "
        "mechanism: the fact table is stored partitioned by month "
        "(one directory per partition value); the month dimension is "
        "filtered at runtime and broadcast, and Spark injects a "
        "dynamicpruningexpression into the fact scan's "
        "PartitionFilters so only the matching partition directories "
        "are ever read — the fact-side filter is derived from the "
        "DIM's rows, not from a static predicate. Plan-shape test "
        "pins the injection (test_plan_shape). Oracle states the "
        "round-trip + join value."
    ),
)
def join_dpp_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _orders_month_sink(spark, sf_dir, "orders_dpp_sink")
    # independent dim: months from the ORIGINAL table, runtime-filtered
    dim = (
        t(spark, sf_dir, "orders")
        .select(F.trunc("o_orderdate", "month").cast("string").alias("order_month"))
        .distinct()
        .filter(F.col("order_month") >= "1997-01-01")
    )
    return (
        fact.join(F.broadcast(dim), "order_month")
        .groupBy("order_month")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "win_moving_avg",
    oracle=(
        "WITH c AS (SELECT user_id, ts, event_id, "
        "CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events) "
        "SELECT user_id, event_id, "
        "CAST(round(CAST(CAST(CAST(SUM(cents) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) "
        "AS DOUBLE) / (COUNT(*) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) "
        "/ 100 AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS mov_avg_eur "
        "FROM c"
    ),
    doc=(
        "Trailing 5-event moving average per user — the smoothing "
        "staple for event streams. Numerator is an exact integer cent "
        "sum over the ROWS frame (avg() over raw doubles is a "
        "partition-order trap), denominator the frame's row count, so "
        "short heads average over what exists. One shuffle keyed by "
        "user, one sorted pass for both frame aggregates."
    ),
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    cents = exact_units(F.col("value"))
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(cents).over(w).cast("double") / F.count("*").over(w) / 100, 4
        ).alias("mov_avg_eur"),
    )


@register(
    "agg_mode",
    oracle=(
        "WITH c AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n "
        "FROM orders GROUP BY o_orderpriority, o_orderstatus) "
        "SELECT o_orderpriority, o_orderstatus AS mode_status, n AS mode_n "
        "FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority "
        "ORDER BY n DESC, o_orderstatus) AS rn FROM c) WHERE rn = 1"
    ),
    doc=(
        "Per-group mode (most frequent order status per priority) via "
        "count + rank with a pinned tie-break — DuckDB's mode() "
        "tie-breaks are implementation-defined, so the rank "
        "formulation is the cross-engine-deterministic spelling. "
        "Count shuffle + a tiny windowed top-1 over the aggregates; "
        "the WindowGroupLimit pushdown keeps the rank partial."
    ),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority", "o_orderstatus").agg(F.count("*").alias("n"))
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("n"), F.asc_nulls_last("o_orderstatus")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("n").alias("mode_n"),
        )
    )
