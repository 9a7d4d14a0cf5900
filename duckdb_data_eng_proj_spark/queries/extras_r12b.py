"""Round-12 second batch: the three gaps the r12 CONTINUATION
analysis grep confirmed the 262-id registry still lacks — each a
distinct ANALYSIS (per the §9.0b near-dup rule), not a new id over a
covered one:

- ts_autocorr — lag-k SERIAL correlation of the hourly event-count
  series per event type. Distinct from agg_corr_exact (cross-COLUMN
  correlation), ts_seasonal_profile (calendar profile — answers
  "which weekday is hot", not "does the series remember itself"),
  and ts_changepoint_cusum (mean drift). The ACF is how a pipeline
  PICKS the seasonality period the profile op then assumes.
- txt_bpe_merge_round — one round of actual BPE TRAINING: vocab-
  weighted adjacent symbol-pair counts, the argmax merge candidate,
  and the corpus compression each merge would buy.
  txt_bpe_pretokenize (extras_r6) only applies the regex PRE-SPLIT
  that precedes training; no registry op computes what the tokenizer
  LEARNS from the split. ext_ngram_collocations counts WORD bigrams
  for phrase mining — different unit, different analysis.
- graph_bfs_seed_distance — bounded-hop BFS distance from a curated
  seed set over the near-dup similarity graph. Distinct from
  dedup_cluster_cc (component MEMBERSHIP, unbounded), graph_kcore
  (coreness), graph_pagerank (stationary mass from a uniform start):
  this is the seed-proximity score crawl-quality pipelines use
  ("how many similarity hops from a trusted document"), and the
  registry computes distance nowhere.

Reference parity: the reference (a DuckDB loan-ETL take-home,
pipeline.py) has none of these — they extend the timeseries /
tokenizer-training / graph families per the build charter. All follow
the repo determinism rules (registry.py): exact integer moments with
double math on final scalars only, identical tie-breaks and aliases
in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.graph import (
    EDGES_SQL,
    fixed_rounds,
    state_sized_shuffle,
    undirected,
)
from duckdb_data_eng_proj_spark.operators.timeseries import (
    HOURLY_COUNTS_SQL,
    dense_hours,
    dense_hours_sql,
    hourly_counts,
)
from duckdb_data_eng_proj_spark.queries.corpus import _near_dup_pairs, _PAIRS_SQL
from duckdb_data_eng_proj_spark.queries.extras_r6 import _PRETOK_RE
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import _LSH_PRELUDE

# ---------------------------------------------------------------------------
# ts_autocorr

# Lag set: short memory (1-3 h), shift boundary (6, 12 h), and the
# daily period (24 h) — the lags a seasonality detector actually
# inspects before committing to a period.
_ACF_LAGS = (1, 2, 3, 6, 12, 24)

# Moment-sum scalar math, shared with the oracle text: identical
# double expression ORDER on both sides (agg_corr_exact pattern).
_ACF_SCALARS_SQL = (
    "CASE WHEN (sxx - CAST(sx AS DOUBLE) * sx / n_pairs) > 0 "
    "AND (syy - CAST(sy AS DOUBLE) * sy / n_pairs) > 0 "
    "THEN CAST(round(CAST(CAST((sxy - CAST(sx AS DOUBLE) * sy / n_pairs) / "
    "sqrt((sxx - CAST(sx AS DOUBLE) * sx / n_pairs) * "
    "(syy - CAST(sy AS DOUBLE) * sy / n_pairs)) "
    "AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) END AS acf"
)


def _acf_pair_sql(k: int) -> str:
    return (
        f"SELECT event_type, CAST({k} AS BIGINT) AS lag, "
        f"n AS y, x{k} AS x FROM lagged WHERE x{k} IS NOT NULL"
    )


@register(
    "ts_autocorr",
    oracle=(
        f"WITH hourly AS ({HOURLY_COUNTS_SQL}), "
        "dense AS (SELECT event_type, bucket_ts, COALESCE(n, 0) AS n "
        f"FROM ({dense_hours_sql('hourly', 'event_type')})), "
        "lagged AS (SELECT event_type, bucket_ts, n, "
        + ", ".join(f"LAG(n, {k}) OVER w AS x{k}" for k in _ACF_LAGS)
        + " FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)), "
        "pairs AS ("
        + " UNION ALL ".join(_acf_pair_sql(k) for k in _ACF_LAGS)
        + "), "
        "m AS (SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, "
        "CAST(SUM(x * y) AS DOUBLE) AS sxy, "
        "CAST(SUM(x * x) AS DOUBLE) AS sxx, "
        "CAST(SUM(y * y) AS DOUBLE) AS syy "
        "FROM pairs GROUP BY 1, 2) "
        f"SELECT event_type, lag, n_pairs, {_ACF_SCALARS_SQL} "
        "FROM m ORDER BY event_type, lag"
    ),
    doc=(
        "Lag-k AUTOCORRELATION of the hourly event-count series per "
        "event type (lags 1/2/3/6/12/24 h) — the serial-dependence "
        "scan that picks a seasonality period before ts_seasonal_"
        "profile assumes one. Series is DENSIFIED first (zero-count "
        "hours are real observations for a count series; skipping "
        "them would misalign every lag), then lag pairs stack via one "
        "posexploded struct array and reduce to five exact integer "
        "moment sums per (type, lag); the Pearson scalar math runs "
        "once per output row in identical double order cross-engine "
        "(agg_corr_exact pattern), NULL when either lag window is "
        "degenerate (zero variance). Products stay BIGINT-exact to "
        "~3e9 events/hour (cnt² sums in decimal(38,0)). Scale shape: "
        "the ONLY full-data exchange is the (type, hour) partial agg "
        "— map-side combine collapses 100 TB of events to |types|·"
        "|hours| rows. Densification is JOIN-FREE: the oracle spells "
        "the textbook span-grid LEFT JOIN, but that plan instantiates "
        "the hourly subplan twice (two corpus scans), so the Spark "
        "side explodes each bucket into the hours since the previous "
        "one (operators/timeseries.dense_hours) — one scan, and the "
        "single repartition(event_type) serves the gap window, the "
        "lag windows, and the final (type, lag) agg (subset rule; 3 "
        "exchanges total, plan-pinned). The 6× lag-stack blowup is "
        "hours-table-sized, never corpus-sized."
    ),
    tags=("timeseries",),
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zero-count hours are real observations of a count series; the
    # densify's one repartition(event_type) also serves the lag windows
    # AND the (type, lag) agg below (subset rule).
    dense = dense_hours(hourly_counts(t(spark, sf_dir, "events")), "event_type")
    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    n = F.coalesce("n", F.lit(0).cast("long"))
    lagged = dense.select(
        "event_type",
        n.alias("n"),
        *[F.lag(n, k).over(w).alias(f"x{k}") for k in _ACF_LAGS],
    )
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"x{k}").alias("x"),
            )
            for k in _ACF_LAGS
        ]
    )
    stacked = (
        lagged.select("event_type", "n", F.explode(lag_structs).alias("s"))
        .select(
            "event_type",
            F.col("s.lag").alias("lag"),
            F.col("n").alias("y"),
            F.col("s.x").alias("x"),
        )
        .filter(F.col("x").isNotNull())
    )
    x, y = F.col("x"), F.col("y")
    m = stacked.groupBy("event_type", "lag").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("syy"),
    )
    sxd, syd, nd = F.col("sx").cast("double"), F.col("sy").cast("double"), F.col("n_pairs")
    cov = F.col("sxy") - sxd * F.col("sy") / nd
    vx = F.col("sxx") - sxd * F.col("sx") / nd
    vy = F.col("syy") - syd * F.col("sy") / nd
    return m.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)).alias("acf"),
    ).orderBy("event_type", "lag")


# ---------------------------------------------------------------------------
# txt_bpe_merge_round

# Top-N merge candidates reported; rank 1 is the pair BPE would merge
# this round (count DESC, pair ASC — the deterministic tie-break real
# trainers pin for reproducible vocabs).
_BPE_TOP = 20


@register(
    "txt_bpe_merge_round",
    oracle=(
        "WITH pt AS (SELECT "
        f"unnest(regexp_extract_all(lower(trim(text)), '{_PRETOK_RE}')) AS w "
        "FROM documents), "
        "vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM pt "
        "WHERE length(w) >= 2 GROUP BY w), "
        "pos AS (SELECT w, freq, substring(w, CAST(i AS INT), 2) AS pair "
        "FROM vocab, unnest(range(1, length(w))) AS u(i)), "
        "wp AS (SELECT w, freq, pair, CAST(COUNT(*) AS BIGINT) AS pc "
        "FROM pos GROUP BY 1, 2, 3), "
        "agg AS (SELECT pair, "
        "CAST(SUM(freq * pc) AS BIGINT) AS pair_count, "
        "CAST(COUNT(*) AS BIGINT) AS vocab_words, "
        "CAST(SUM(freq * ((length(w) - length(replace(w, pair, ''))) // 2)) "
        "AS BIGINT) AS tokens_saved "
        "FROM wp GROUP BY pair) "
        "SELECT rank, pair, pair_count, vocab_words, tokens_saved FROM ("
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) "
        "AS BIGINT) AS rank, pair, pair_count, vocab_words, tokens_saved "
        f"FROM agg) WHERE rank <= {_BPE_TOP} ORDER BY rank"
    ),
    doc=(
        "One round of BPE TRAINING over the pretokenized corpus: the "
        f"top-{_BPE_TOP} adjacent character-pair merge candidates by "
        "corpus-weighted count, with the vocab breadth and the exact "
        "symbol compression each merge would buy. pair_count is the "
        "POSITIONAL count (every adjacent occurrence, overlaps "
        "included — what Sennrich's get_stats computes); tokens_saved "
        "is the NON-OVERLAPPING replace count (what one merge pass "
        "actually removes: 'aaa' counts the 'aa' pair twice but a "
        "merge saves one symbol) — the gap between the two is real "
        "BPE behavior, documented here because both engines must "
        "agree on both definitions (replace() is left-to-right "
        "non-overlapping in Spark and DuckDB alike). Rank tie-break "
        "(count DESC, pair ASC) is the reproducible-vocab pin. Scale "
        "shape — the classic BPE trick: ONE corpus-scan exchange "
        "builds the (pretoken, freq) VOCAB, and every later stage "
        "(pair positions, per-word pair counts, the merge ledger) is "
        "vocab-bounded, never corpus-bounded; at 100 TB the pair "
        "statistics aggregate over ~1e6 weighted vocab rows, not 1e12 "
        "documents. The final rank window is alphabet²-bounded "
        "(thousands of rows) — its single-partition sort is a "
        "deliberate scalar stage, not a skew risk."
    ),
    tags=("text", "training"),
)
def txt_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.trim(F.col("text"))), F.lit(_PRETOK_RE), 0)
        ).alias("w")
    )
    vocab = (
        words.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    pos = vocab.select(
        "w",
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    wp = pos.groupBy("w", "freq", "pair").agg(F.count("*").cast("long").alias("pc"))
    occ = F.expr("(length(w) - length(replace(w, pair))) DIV 2")
    agg = wp.groupBy("pair").agg(
        F.sum(F.col("freq") * F.col("pc")).cast("long").alias("pair_count"),
        F.count("*").cast("long").alias("vocab_words"),
        F.sum(F.col("freq") * occ).cast("long").alias("tokens_saved"),
    )
    rank = F.row_number().over(Window.orderBy(F.desc("pair_count"), "pair"))
    return (
        agg.select(rank.cast("long").alias("rank"), "pair", "pair_count",
                   "vocab_words", "tokens_saved")
        .filter(F.col("rank") <= _BPE_TOP)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# graph_bfs_seed_distance

# Same pair-graph threshold as the dedup_cluster_cc / kcore / LPA
# family; seeds are the curated-document convention doc_id % 11 = 0
# (a ~9% trusted subset, disjoint in spirit from the % 3 batch and
# % 13 delete rules used elsewhere).
_BFS_THR = 0.05
_BFS_SEED_MOD = 11
_BFS_ROUNDS = 3  # levels 0.._BFS_ROUNDS, unrolled 1:1 in the oracle


def _bfs_round_sql(i: int) -> str:
    """One unrolled BFS round: frontier = level i-1, expand over
    edges, admit only unseen nodes at level i (min-level by
    construction)."""
    return (
        f"f{i} AS (SELECT DISTINCT e.dst AS doc_id FROM edges e "
        f"JOIN s{i - 1} p ON p.doc_id = e.src AND p.lvl = {i - 1}), "
        f"s{i} AS (SELECT doc_id, lvl FROM s{i - 1} "
        f"UNION ALL SELECT f.doc_id, CAST({i} AS BIGINT) AS lvl "
        f"FROM f{i} f ANTI JOIN s{i - 1} USING (doc_id))"
    )


@register(
    "graph_bfs_seed_distance",
    oracle=(
        _LSH_PRELUDE
        + ", "
        + _PAIRS_SQL.format(thr=_BFS_THR)
        + ", "
        + EDGES_SQL
        + ", s0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS lvl FROM documents "
        f"WHERE doc_id % {_BFS_SEED_MOD} = 0), "
        + ", ".join(_bfs_round_sql(i) for i in range(1, _BFS_ROUNDS + 1))
        + f" SELECT doc_id, lvl FROM s{_BFS_ROUNDS} ORDER BY doc_id"
    ),
    doc=(
        "Bounded-hop BFS DISTANCE from a curated seed set (doc_id % "
        f"{_BFS_SEED_MOD} = 0) over the verified near-dup similarity "
        f"graph (Jaccard ≥ {_BFS_THR}, undirected), levels 0-"
        f"{_BFS_ROUNDS} — the seed-proximity score crawl-quality "
        "pipelines rank candidate documents by ('how many similarity "
        "hops from a trusted doc'). Distance, not membership: "
        "dedup_cluster_cc answers WHICH component, this answers HOW "
        "FAR — unreached docs fall outside the horizon and are "
        "omitted (the filter semantics: beyond 3 hops, trust decays "
        "to zero). Min-level is by CONSTRUCTION (a node is admitted "
        "the first round it is reached; the anti-join keeps later "
        "rounds from relabeling), so no per-node min-reduction is "
        "needed — each round is one frontier equi-join + one "
        "anti-join, both keyed on doc_id. Scale shape: frontier "
        "joins move |frontier|·degree rows, never all-pairs; edges "
        "and levels localCheckpoint per round (lineage barrier, the "
        "iterative-family rule) with the loop's shuffle width sized "
        "to the edge count (graph.state_sized_shuffle). At 100 TB the "
        "edge table is the LSH-verified pair set — index-sized, not "
        "corpus-sized — and each BFS round is one co-partitioned "
        "shuffle join over it."
    ),
    tags=("graph",),
)
def graph_bfs_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = undirected(_near_dup_pairs(spark, sf_dir, _BFS_THR)).localCheckpoint()
    seeds = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BFS_SEED_MOD == 0)
        .select("doc_id", F.lit(0).cast("long").alias("lvl"))
    )

    def expand(levels: DataFrame, i: int) -> DataFrame:
        # the frontier is level i-1, read from the checkpointed levels
        frontier = levels.filter(F.col("lvl") == i - 1).select(
            F.col("doc_id").alias("src")
        )
        reached = (
            edges.join(frontier, "src", "semi")
            .select(F.col("dst").alias("doc_id"))
            .distinct()
        )
        fresh = reached.join(levels, "doc_id", "anti").select(
            "doc_id", F.lit(i).cast("long").alias("lvl")
        )
        return levels.unionAll(fresh)

    with state_sized_shuffle(spark, edges.count()):
        levels = fixed_rounds(
            seeds.localCheckpoint(eager=False), _BFS_ROUNDS, expand
        )
    return levels.orderBy("doc_id")
