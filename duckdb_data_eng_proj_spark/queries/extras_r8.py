"""Round-8 operators: community labels, fixed-point EWMA, hash reservoir.

Three additions inside the r8 new-id budget (VERDICT r7 item 6; the
round's fourth new id, ext_stream_watermark_late, lives with its
family in streaming_q.py):

- graph_label_communities — synchronous label propagation (fixed 3
  rounds, neighbor-majority vote, deterministic min-label tie-break)
  over the verified LSH near-dup pair graph; the community sibling of
  dedup_cluster_cc (which converges to CONNECTIVITY — this converges
  toward DENSITY: a vertex adopts its most-connected neighborhood's
  label, so bridges between dense near-dup blocks don't merge them).
- ts_ewma — exponentially weighted moving average with a FIXED-POINT
  integer α (3/10 in cent units, truncating integer recursion) over
  per-user hourly buckets; completes the ts_ family
  (ts_resample_ohlc / ts_gap_fill / win_moving_avg).
- agg_reservoir_sample — deterministic salted-hash "reservoir": per
  group keep the k rows with the smallest keyed multiplicative hash.
  The bounded-sample primitive every 100 TB audit query needs — a
  stable k-row sample per group with NO full sort and no RNG state.

Reference parity: the reference has no graph/time-series/sampling
operators (SURVEY.md §2; its engine is a DuckDB ETL take-home,
pipeline.py:1) — these extend the north-star training-pipeline
families. All three follow the repo's determinism rules (registry.py
docstring): integer fixed-point, identical tie-breaks and aliases in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.io.sources import event_ts, read_raw_events
from duckdb_data_eng_proj_spark.operators.graph import (
    EDGES_SQL,
    fixed_rounds,
    self_labels,
    state_sized_shuffle,
    undirected,
)
from duckdb_data_eng_proj_spark.operators.textops import TOK_SQL, tokens
from duckdb_data_eng_proj_spark.operators.timeseries import (
    HOURLY_CENTS_SQL,
    hourly_cents,
    per_user,
)
from duckdb_data_eng_proj_spark.queries.corpus import _PAIRS_SQL, _near_dup_pairs
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import _LSH_PRELUDE

# ---------------------------------------------------------------------------
# graph_label_communities

_LPC_THR = 0.05  # same pair-graph threshold as the dedup_cluster_cc family
_LPC_ROUNDS = 3  # fixed synchronous rounds — unrolled 1:1 in the oracle

_LPC_EDGES_SQL = (
    EDGES_SQL + ", l0 AS (SELECT DISTINCT src AS doc_id, src AS lbl FROM edges)"
)


def _lpc_round_sql(i: int) -> str:
    """One unrolled label-propagation round: neighbor label votes,
    winner = max count, ties to the smallest label."""
    return (
        f"v{i} AS (SELECT e.src, l.lbl, COUNT(*) AS c "
        f"FROM edges e JOIN l{i - 1} l ON l.doc_id = e.dst "
        f"GROUP BY e.src, l.lbl), "
        f"l{i} AS (SELECT src AS doc_id, lbl FROM ("
        f"SELECT src, lbl, ROW_NUMBER() OVER (PARTITION BY src "
        f"ORDER BY c DESC, lbl) AS rn FROM v{i}) WHERE rn = 1)"
    )


@register(
    "graph_label_communities",
    oracle=(
        _LSH_PRELUDE
        + ", "
        + _PAIRS_SQL.format(thr=_LPC_THR)
        + ", "
        + _LPC_EDGES_SQL
        + ", "
        + ", ".join(_lpc_round_sql(i) for i in range(1, _LPC_ROUNDS + 1))
        + f" SELECT doc_id, lbl AS community_id FROM l{_LPC_ROUNDS}"
    ),
    doc=(
        "Community labels by SYNCHRONOUS label propagation over the "
        "verified LSH near-dup pair graph (fixed 3 rounds; initial "
        "label = doc_id; each round every vertex adopts the most "
        "frequent neighbor label, ties to the SMALLEST label — fully "
        "deterministic, unlike classic randomized LPA). Scale shape "
        "per round: one join keyed by dst + two grouped aggregates, "
        "all partition-bounded; labels localCheckpoint'd between "
        "rounds like dedup_cluster_cc, shuffle width sized to the "
        "label state. Fixed rounds (not fixpoint) keep "
        "the oracle exactly unrollable AND bound the 100 TB job "
        "count — LPA communities stabilize in a handful of rounds on "
        "near-dup graphs, and round count is the knob, not a risk."
    ),
)
def graph_label_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = undirected(_near_dup_pairs(spark, sf_dir, _LPC_THR)).localCheckpoint()

    def vote(labels: DataFrame, _i: int) -> DataFrame:
        votes = (
            edges.join(labels.select(F.col("doc_id").alias("dst"), "lbl"), "dst")
            .groupBy("src", "lbl")
            .agg(F.count("*").alias("c"))
        )
        # winner: max vote count, ties to smallest label — one
        # map-side-combinable max of a (count, -label) struct, no
        # window/sort over the vote table.
        return (
            votes.groupBy("src")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select(F.col("src").alias("doc_id"), (-F.col("m.nl")).alias("lbl"))
        )

    with state_sized_shuffle(spark, edges.count()):
        seed = self_labels(edges).localCheckpoint(eager=False)
        labels = fixed_rounds(seed, _LPC_ROUNDS, vote)
    return labels.select("doc_id", F.col("lbl").alias("community_id"))


# ---------------------------------------------------------------------------
# ts_ewma

_EWMA_SCHEMA = "user_id long, bucket_ts timestamp, v_c100 long, ewma_c100 long"


def _trunc_div10(num: int) -> int:
    """Integer /10 truncating toward zero — DuckDB `//` semantics
    (tests/test_r8_laws.py proves DuckDB truncates where Python
    floors; the Holt TREND state goes negative on any decline, so
    this is load-bearing here, not defensive)."""
    return -((-num) // 10) if num < 0 else num // 10


def _ewma_pdf(pdf):
    """Per-user fixed-point EWMA: y_1 = v_1; y_t = (3·v_t + 7·y_{t-1})
    divided by 10 TRUNCATING TOWARD ZERO, all BIGINT cents. DuckDB's
    `//` truncates on negatives (-6542 // 10 = -654) while Python's
    floors (-655) — proven by tests/test_r8_laws.py — so the recursion
    must spell out truncation to stay bit-identical across engines on
    signed state (events.value is signed; testdata just happens never
    to drive a bucket sum negative, which is why the divergence was
    invisible to the sf0.01 driver row)."""
    pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
    out, acc = [], None
    for v in pdf["v_c100"]:
        v = int(v)
        if acc is not None:
            acc = _trunc_div10(3 * v + 7 * acc)
        else:
            acc = v
        out.append(acc)
    pdf["ewma_c100"] = out
    return pdf


# The recursive oracles' input: each user's hourly cent buckets numbered
# in time order (ts_ewma and ts_holt_linear).
_RANKED_BUCKETS_SQL = (
    "WITH RECURSIVE b AS (SELECT user_id, bucket_ts, v_c100, "
    "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bucket_ts) AS rn "
    f"FROM ({HOURLY_CENTS_SQL})), "
)


@register(
    "ts_ewma",
    oracle=(
        _RANKED_BUCKETS_SQL + "e AS ("
        "SELECT user_id, bucket_ts, rn, v_c100, v_c100 AS y "
        "FROM b WHERE rn = 1 "
        "UNION ALL "
        "SELECT b.user_id, b.bucket_ts, b.rn, b.v_c100, "
        "(3 * b.v_c100 + 7 * e.y) // 10 "
        "FROM b JOIN e ON b.user_id = e.user_id AND b.rn = e.rn + 1) "
        "SELECT user_id, bucket_ts, v_c100, "
        "CAST(y AS BIGINT) AS ewma_c100 FROM e"
    ),
    doc=(
        "Fixed-point EWMA (α = 3/10, integer cents, truncating "
        "recursion) over per-user HOURLY buckets: the smoothing "
        "primitive of the ts_ family, exact across engines because "
        "the state is a BIGINT, not a float. Shape: one groupBy "
        "(user, hour) bucket aggregate, then ONE shuffle keyed by "
        "user into an Arrow-batched applyInPandas that runs the "
        "linear recursion per user in time order — the recursion is "
        "inherently sequential PER KEY, so per-key Python over a "
        "pre-aggregated bucket table (≤ buckets, never raw events) "
        "is the scale-right shape; 100 TB = same two stages, keys "
        "spread across the cluster. Oracle = recursive-CTE replay of "
        "the identical integer recursion."
    ),
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = hourly_cents(t(spark, sf_dir, "events"))
    return per_user(b.select("user_id", "bucket_ts", "v_c100"), _ewma_pdf, _EWMA_SCHEMA)


# ---------------------------------------------------------------------------
# agg_reservoir_sample

_RES_K = 10
_RES_SALT = 17
_RES_MULT = 2654435761  # Knuth multiplicative hash constant (2^32·φ)
# event_id * _RES_MULT overflows int64 at event_id ≈ 3.47e9, far below
# the 100 TB id range — so the hash is computed by 16/16 long division
# of the constant (the decision-stump decomposition discipline):
#   a  = event_id mod 2^32
#   h  = ((a·(M>>16) mod 2^16)·2^16 + a·(M&0xFFFF) + SALT) mod 2^32
# Every intermediate stays < 2^48; for event_id < 2^32 the value (and
# therefore the rank order of every existing sample) is bit-identical
# to the naive (event_id·M + SALT) mod 2^32.
_RES_MH, _RES_ML = _RES_MULT >> 16, _RES_MULT & 0xFFFF


@register(
    "agg_reservoir_sample",
    oracle=(
        # DuckDB % follows the dividend's sign while Spark pmod is
        # always non-negative (ADVICE r9) — double-mod the id so a
        # negative event_id hashes identically on both engines.
        "SELECT event_type, event_id, rn AS sample_rank FROM ("
        "SELECT event_type, event_id, ROW_NUMBER() OVER ("
        "PARTITION BY event_type ORDER BY "
        "(((((event_id % 4294967296) + 4294967296) % 4294967296) "
        f"* {_RES_MH} % 65536) * 65536 "
        f"+ (((event_id % 4294967296) + 4294967296) % 4294967296) "
        f"* {_RES_ML} + {_RES_SALT}) "
        "% 4294967296, event_id"
        f") AS rn FROM events) WHERE rn <= {_RES_K}"
    ),
    doc=(
        "Deterministic salted-hash reservoir: per event_type keep the "
        f"{_RES_K} rows with the smallest keyed multiplicative hash "
        "(Knuth constant, salt pinned) — a stable bounded sample per "
        "group with no RNG state and no full sort: the rank-≤-k "
        "predicate compiles to WindowGroupLimit, so every map task "
        "keeps only its local top-k before the single per-group "
        "shuffle (plan-pinned in tests/test_plan_shape.py). Re-running "
        "over grown data keeps previously sampled rows stable modulo "
        "hash displacement — the audit-sample property; a new salt is "
        "a new independent sample. 100 TB: k rows per group of state, "
        "never the stream."
    ),
)
def agg_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = F.pmod(F.col("event_id"), F.lit(4294967296))
    h = F.pmod(
        F.pmod(a * F.lit(_RES_MH), F.lit(65536)) * F.lit(65536)
        + a * F.lit(_RES_ML)
        + F.lit(_RES_SALT),
        F.lit(4294967296),
    )
    w = Window.partitionBy("event_type").orderBy(h, "event_id")
    return (
        events.select("event_type", F.col("event_id").cast("long").alias("event_id"))
        # cast long: the oracle emits BIGINT — the one uncast rank in
        # the file and the module's only type_sweep int-width flag
        # (r16 review; benign to the value compare, fixed for schema
        # consistency with evt_rfm_scores/ml_decision_stump)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= _RES_K)
    )


# ---------------------------------------------------------------------------
# ml_naive_bayes

# Integer micro-unit natural log: rounding EACH ln(integer) to BIGINT
# micro-units FIRST makes every downstream sum/argmax exact integer
# arithmetic — cross-engine float noise can only surface if some
# ln(x)·1e6 lands within ~1e-10 of a rounding boundary for one of the
# few thousand distinct integer inputs the model ever feeds it
# (probability ≈ 1e-7, vs ~5%/run if raw double log-likelihood sums
# were compared at hash precision).
_L_U = "CAST(round(ln({x}) * 1000000, 0) AS BIGINT)"

@register(
    "ml_naive_bayes",
    oracle=(
        f"WITH tt AS (SELECT doc_id, lang, unnest({TOK_SQL}) AS token FROM documents), "
        "tr AS (SELECT * FROM tt WHERE doc_id % 5 <> 0), "
        "te AS (SELECT doc_id, token FROM tt WHERE doc_id % 5 = 0), "
        "c AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c FROM tr "
        "GROUP BY 1, 2), "
        "tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY lang), "
        "v AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM tr), "
        "cls AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d "
        "FROM tr GROUP BY lang), "
        "dd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM tr), "
        "vocab AS (SELECT DISTINCT token FROM tr), "
        "model AS (SELECT cl.lang, vo.token, "
        + _L_U.format(x="COALESCE(c.c, 0) + 1")
        + " - "
        + _L_U.format(x="tot.t + v.v")
        + " AS w_u "
        "FROM cls cl CROSS JOIN vocab vo CROSS JOIN v "
        "JOIN tot ON tot.lang = cl.lang "
        "LEFT JOIN c ON c.lang = cl.lang AND c.token = vo.token), "
        "defs AS (SELECT tot.lang, -" + _L_U.format(x="tot.t + v.v")
        + " AS def_u FROM tot CROSS JOIN v), "
        "priors AS (SELECT cl.lang, " + _L_U.format(x="cl.d") + " - "
        + _L_U.format(x="dd.d")
        + " AS prior_u FROM cls cl CROSS JOIN dd), "
        "ms AS (SELECT te.doc_id, mo.lang, CAST(SUM(mo.w_u) AS BIGINT) AS s "
        "FROM te JOIN model mo ON mo.token = te.token GROUP BY 1, 2), "
        "oov AS (SELECT te.doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM te "
        "LEFT JOIN vocab vo ON vo.token = te.token "
        "WHERE vo.token IS NULL GROUP BY te.doc_id), "
        "docs AS (SELECT DISTINCT doc_id FROM te), "
        "grid AS (SELECT d.doc_id, p.lang, "
        "p.prior_u + COALESCE(ms.s, 0) + COALESCE(oov.n, 0) * defs.def_u "
        "AS score_u "
        "FROM docs d CROSS JOIN priors p "
        "JOIN defs ON defs.lang = p.lang "
        "LEFT JOIN ms ON ms.doc_id = d.doc_id AND ms.lang = p.lang "
        "LEFT JOIN oov ON oov.doc_id = d.doc_id) "
        "SELECT doc_id, lang AS pred_lang, CAST(score_u AS BIGINT) AS score_u "
        "FROM (SELECT doc_id, lang, score_u, ROW_NUMBER() OVER ("
        "PARTITION BY doc_id ORDER BY score_u DESC, lang) AS rn FROM grid) "
        "WHERE rn = 1"
    ),
    doc=(
        "Two-pass multinomial Naive Bayes over whitespace tokens — "
        "the classifier sibling of ext_ngram_lm: TRAIN on doc_id%5≠0 "
        "(per-(lang,token) Laplace-smoothed counts, per-lang totals, "
        "doc-count priors), SCORE doc_id%5=0 and emit each test "
        "doc's argmax language with its integer micro-unit "
        "log-likelihood (ties to the smallest lang). All log values "
        "are rounded to BIGINT micro-units per distinct integer input "
        "BEFORE summation, so scoring and argmax are exact integer "
        "arithmetic in both engines. Scale shape: the model "
        "(vocab × n_langs) and priors broadcast; the corpus-side work "
        "is one explode + one broadcast join + map-side-combinable "
        "per-(doc,lang) sums; the doc×lang score grid is 5 rows per "
        "doc. 100 TB: identical — model tables are vocab-bounded, "
        "the corpus never shuffles except doc-keyed partial sums."
    ),
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, lang, token) frame is materialized once
    via eager localCheckpoint so all eight consumers read it instead of
    re-deriving the token stream (BASELINE §Round 17: 2.46 s vs 2.87 s
    recomputed at sf0.1). At 100 TB the checkpoint is a persisted token
    table — the standard train-once shape."""
    from duckdb_data_eng_proj_spark.queries.registry import t

    def L(col):
        return F.round(F.log(col) * 1_000_000, 0).cast("long")

    d = t(spark, sf_dir, "documents")
    tt = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token")
    ).localCheckpoint(eager=True)
    tr = tt.filter(F.pmod("doc_id", F.lit(5)) != 0)
    te = tt.filter(F.pmod("doc_id", F.lit(5)) == 0).select("doc_id", "token")

    c = tr.groupBy("lang", "token").agg(F.count("*").alias("c"))
    tot = c.groupBy("lang").agg(F.sum("c").alias("t"))
    v = tr.agg(F.countDistinct("token").alias("v"))
    cls = tr.groupBy("lang").agg(F.countDistinct("doc_id").alias("d"))
    dd = tr.agg(F.countDistinct("doc_id").alias("d_all"))
    vocab = tr.select("token").distinct()

    # EAGER checkpoint: the model table BROADCASTS into the scoring
    # join below, and its assembly is a multi-join pipeline (class ×
    # vocab grid joined with the count tables). Materialized, that
    # pipeline runs as a normal job instead of inside the broadcast
    # future (audit_broadcast_subtrees r13 — no join under a
    # BroadcastExchange). The VALUE stays |classes|×|vocab| rows —
    # the model-side broadcast rule is unchanged.
    model = (
        cls.crossJoin(vocab)
        .crossJoin(F.broadcast(v))
        .join(tot, "lang")
        .join(c, ["lang", "token"], "left")
        .select(
            "lang",
            "token",
            (L(F.coalesce(F.col("c"), F.lit(0)) + 1) - L(F.col("t") + F.col("v"))).alias("w_u"),
        )
        .localCheckpoint(eager=True)
    )
    defs = tot.crossJoin(F.broadcast(v)).select(
        "lang", (-L(F.col("t") + F.col("v"))).alias("def_u")
    )
    priors = cls.crossJoin(F.broadcast(dd)).select(
        "lang", (L(F.col("d")) - L(F.col("d_all"))).alias("prior_u")
    )

    ms = (
        te.join(F.broadcast(model), "token")
        .groupBy("doc_id", "lang")
        .agg(F.sum("w_u").alias("s"))
    )
    oov = (
        te.join(F.broadcast(vocab), "token", "left_anti")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_oov"))
    )
    docs = te.select("doc_id").distinct()
    grid = (
        docs.crossJoin(F.broadcast(priors))
        .join(F.broadcast(defs), "lang")
        .join(ms, ["doc_id", "lang"], "left")
        .join(oov, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            (
                F.col("prior_u")
                + F.coalesce(F.col("s"), F.lit(0))
                + F.coalesce(F.col("n_oov"), F.lit(0)) * F.col("def_u")
            ).alias("score_u"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_u").desc(), "lang")
    return (
        grid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), F.col("score_u").cast("long").alias("score_u"))
    )


# ---------------------------------------------------------------------------
# txt_entropy

# Token-distribution Shannon entropy in integer micro-nats:
#   H_u = ln_u(N) - (Σ c_i · ln_u(c_i)) // N
# with ln_u(x) = round(ln(x)·1e6) per DISTINCT INTEGER input (the same
# micro-unit discipline as ml_naive_bayes above), so the per-doc sum and
# division are exact integer arithmetic in both engines. All operands are
# positive counts, so `//` truncation == floor on both sides.


@register(
    "txt_entropy",
    oracle=(
        f"WITH tt AS (SELECT doc_id, unnest({TOK_SQL}) AS token FROM documents), "
        "c AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM tt GROUP BY 1, 2), "
        "d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, "
        "CAST(COUNT(*) AS BIGINT) AS n_distinct, "
        "CAST(SUM(c * " + _L_U.format(x="c") + ") AS BIGINT) AS s_u "
        "FROM c GROUP BY doc_id) "
        "SELECT doc_id, n_tokens, n_distinct, "
        "CAST(" + _L_U.format(x="n_tokens") + " - s_u // n_tokens "
        "AS BIGINT) AS entropy_u FROM d"
    ),
    doc=(
        "Per-document token-distribution Shannon entropy in integer "
        "micro-nats — the repetition/diversity signal of the "
        "txt_quality family (near-zero entropy = spam/boilerplate "
        "loops, high entropy = diverse vocabulary): H_u = ln_u(N) - "
        "(Σ c·ln_u(c)) // N over per-doc token counts, every log "
        "rounded to BIGINT micro-units per distinct integer count "
        "before summation (ml_naive_bayes' discipline; the ln_u "
        "cross-engine sweep in tests/test_r8_laws.py covers the "
        "domain). Scale shape: two map-side-combinable aggregates — "
        "(doc,token) then doc — both keyed narrower than the corpus; "
        "zero-token docs vanish identically on both engines (explode "
        "vs unnest). 100 TB: identical two-stage shape, no state."
    ),
)
def txt_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.registry import t

    def L(col):
        return F.round(F.log(col) * 1_000_000, 0).cast("long")

    d = t(spark, sf_dir, "documents")
    c = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum(F.col("c") * L(F.col("c"))).alias("s_u"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (L(F.col("n_tokens")) - F.expr("s_u DIV n_tokens")).alias("entropy_u"),
        )
    )


# ---------------------------------------------------------------------------
# graph_kcore

_KCORE_K = 2       # peel threshold: survive iff degree >= k in the core
_KCORE_ROUNDS = 3  # fixed peeling rounds — unrolled 1:1 in the oracle


def _kcore_round_sql(i: int) -> str:
    """One unrolled peeling round: degree census, keep >= k, restrict
    edges to kept endpoints on both sides. Round 1 peels the shared
    ``edges`` CTE."""
    prev = "edges" if i == 1 else f"e{i - 1}"
    return (
        f"d{i} AS (SELECT src, COUNT(*) AS c FROM {prev} GROUP BY src), "
        f"k{i} AS (SELECT src FROM d{i} WHERE c >= {_KCORE_K}), "
        f"e{i} AS (SELECT e.src, e.dst FROM {prev} e "
        f"JOIN k{i} a ON a.src = e.src JOIN k{i} b ON b.src = e.dst)"
    )


@register(
    "graph_kcore",
    oracle=(
        _LSH_PRELUDE
        + ", "
        + _PAIRS_SQL.format(thr=_LPC_THR)
        + ", "
        + EDGES_SQL
        + ", "
        + ", ".join(_kcore_round_sql(i) for i in range(1, _KCORE_ROUNDS + 1))
        + f" SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg "
        f"FROM e{_KCORE_ROUNDS} GROUP BY src"
    ),
    doc=(
        f"Bounded k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} fixed "
        "synchronous rounds) over the verified LSH near-dup pair "
        "graph: each round computes the degree census, keeps vertices "
        "with degree >= k, and restricts edges to kept endpoints — "
        "the density-core extractor that separates tight near-dup "
        "blocks from pendant chains (communities' structural "
        "complement: LPA labels everything, the core keeps only the "
        "dense part). Fixed rounds, not fixpoint, for the same two "
        "reasons as graph_label_communities: the oracle unrolls "
        "exactly, and the 100 TB job count is bounded by "
        "construction (peeling converges geometrically on near-dup "
        "graphs; round count is the knob). Scale shape per round: "
        "one map-side-combinable degree agg + two semi-join "
        "restrictions keyed by vertex — state-sized, never "
        "corpus-sized; edges localCheckpoint'd between rounds like "
        "dedup_cluster_cc."
    ),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = undirected(_near_dup_pairs(spark, sf_dir, _LPC_THR)).localCheckpoint()

    def peel(e: DataFrame, _i: int) -> DataFrame:
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("src")
        )
        return (
            e.join(keep, "src", "semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "semi")
            .select("src", "dst")
        )

    with state_sized_shuffle(spark, edges.count()):
        edges = fixed_rounds(edges, _KCORE_ROUNDS, peel)
        # Closing degree census eagerly materialized INSIDE the width
        # context (r17, the dedup_cluster_cc_star r16 pattern): this
        # groupBy's shuffle is state-sized like every round's, so it
        # carries the same hand-sized width instead of the session
        # default it would get lazily after the context restores.
        core = (
            edges.groupBy("src")
            .agg(F.count("*").alias("core_deg"))
            .localCheckpoint()
        )
    return core.select(F.col("src").alias("doc_id"), "core_deg")


# ---------------------------------------------------------------------------
# ml_decision_stump

# Integer-exact headroom: the score is (a·10⁶)//n with a = n_s² - Σc²,
# computed via the exact long-division split
#   (a·10⁶)//n  ==  (a//n)·10⁶ + ((a%n)·10⁶)//n        (a, n > 0)
# so no intermediate exceeds max(n², n·10⁶) — BIGINT-exact to
# n ≈ 3×10⁹ rows per stump (the naive a·10⁶ form overflowed Spark's
# ANSI long at ×8 bench volume, n ≈ 4.8e6 — caught by
# scripts/stress_scale.py). Past 3e9 you stump on a bounded sample
# (agg_reservoir_sample above is the companion primitive), which is
# the honest 100 TB shape anyway.


@register(
    "ml_decision_stump",
    oracle=(
        "WITH base AS (SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q, "
        "l_returnflag AS cls FROM lineitem), "
        "cnt AS (SELECT q, cls, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM base GROUP BY 1, 2), "
        "grid AS (SELECT qs.q, cs.cls FROM "
        "(SELECT DISTINCT q FROM base) qs CROSS JOIN "
        "(SELECT DISTINCT cls FROM base) cs), "
        "cum AS (SELECT g.q, g.cls, CAST(SUM(COALESCE(cnt.c, 0)) OVER ("
        "PARTITION BY g.cls ORDER BY g.q) AS BIGINT) AS cl "
        "FROM grid g LEFT JOIN cnt ON cnt.q = g.q AND cnt.cls = g.cls), "
        "tot AS (SELECT cls, CAST(COUNT(*) AS BIGINT) AS t "
        "FROM base GROUP BY cls), "
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base), "
        "th AS (SELECT cum.q, CAST(SUM(cum.cl) AS BIGINT) AS n_left, "
        "CAST(SUM(cum.cl * cum.cl) AS BIGINT) AS sq_l, "
        "CAST(SUM((tot.t - cum.cl) * (tot.t - cum.cl)) AS BIGINT) AS sq_r "
        "FROM cum JOIN tot ON tot.cls = cum.cls GROUP BY cum.q), "
        "ab AS (SELECT th.q, th.n_left, nn.n - th.n_left AS n_right, "
        "th.n_left * th.n_left - sq_l AS a_l, "
        "(nn.n - th.n_left) * (nn.n - th.n_left) - sq_r AS a_r "
        "FROM th CROSS JOIN nn WHERE nn.n > th.n_left), "
        "sc AS (SELECT q AS threshold, n_left, n_right, "
        "(a_l // n_left) * 1000000 + ((a_l % n_left) * 1000000) // n_left "
        "+ (a_r // n_right) * 1000000 "
        "+ ((a_r % n_right) * 1000000) // n_right AS score_u FROM ab) "
        "SELECT CAST(threshold AS BIGINT) AS threshold, "
        "CAST(n_left AS BIGINT) AS n_left, "
        "CAST(n_right AS BIGINT) AS n_right, "
        "CAST(score_u AS BIGINT) AS score_u, "
        "CAST(ROW_NUMBER() OVER (ORDER BY score_u, threshold) AS BIGINT) "
        "AS split_rank FROM sc"
    ),
    doc=(
        "Single-feature decision stump: the full Gini split-score "
        "table over l_quantity vs the 3-class l_returnflag label — "
        "for every candidate threshold t, weighted impurity of the "
        "(q <= t) / (q > t) partition in integer micro-units "
        "(n_s² - Σ c_s,i²)·1e6 // n_s summed over both sides; "
        "split_rank 1 is the stump (ties to the smallest threshold). "
        "All counts, squares, and truncating divisions are BIGINT — "
        "exact cross-engine (positive operands, so DuckDB // == Spark "
        "DIV), with the ·1e6 scaling long-division-decomposed so "
        "nothing overflows below ~3e9 rows (see module comment). "
        "Scale shape: one map-side-combinable (q, cls) count of "
        "the fact table, then every later stage runs on the "
        "|thresholds| × |classes| grid (50×3 here) — window cumsum, "
        "impurity, rank all on grid-sized data; the fact table is "
        "scanned ONCE and never shuffled wider than the count."
    ),
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.queries.registry import t

    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.round("l_quantity", 0).cast("long").alias("q"),
        F.col("l_returnflag").alias("cls"),
    )
    # Every later input derives from cnt, not base (r17 scan fusion —
    # the doc's "scanned ONCE" claim was aspirational: tot/nn/the two
    # grid distincts each re-scanned the fact table). ReuseExchange
    # alone can't dedup them (column pruning gives each consumer a
    # differently-pruned exchange), so the grid-sized count table is
    # EAGERLY checkpointed — one fact scan + one fact-sized exchange,
    # every derived aggregate reads the ~|thresholds|x|classes| rows.
    # Eager, not lazy: cls-distinct below BROADCASTS, and a lazy
    # checkpoint would run the fact scan inside the broadcast future
    # (the audit_broadcast_subtrees r13 rule).
    cnt = (
        base.groupBy("q", "cls")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    grid = (
        cnt.select("q").distinct()
        .crossJoin(F.broadcast(cnt.select("cls").distinct()))
    )
    cum = (
        grid.join(cnt, ["q", "cls"], "left")
        .select(
            "q",
            "cls",
            F.sum(F.coalesce(F.col("c"), F.lit(0)))
            .over(Window.partitionBy("cls").orderBy("q"))
            .alias("cl"),
        )
    )
    tot = cnt.groupBy("cls").agg(F.sum("c").alias("t"))
    nn = cnt.agg(F.sum("c").alias("n"))
    th = (
        cum.join(F.broadcast(tot), "cls")
        .groupBy("q")
        .agg(
            F.sum("cl").alias("n_left"),
            F.sum(F.col("cl") * F.col("cl")).alias("sq_l"),
            F.sum((F.col("t") - F.col("cl")) * (F.col("t") - F.col("cl"))).alias("sq_r"),
        )
    )
    sc = (
        th.crossJoin(F.broadcast(nn))
        .filter(F.col("n") > F.col("n_left"))
        .select(
            F.col("q").alias("threshold"),
            "n_left",
            (F.col("n") - F.col("n_left")).alias("n_right"),
            F.expr("n_left * n_left - sq_l").alias("a_l"),
            F.expr("(n - n_left) * (n - n_left) - sq_r").alias("a_r"),
        )
        .select(
            "threshold",
            "n_left",
            "n_right",
            (
                F.expr("(a_l DIV n_left) * 1000000 "
                       "+ ((a_l % n_left) * 1000000) DIV n_left")
                + F.expr("(a_r DIV n_right) * 1000000 "
                         "+ ((a_r % n_right) * 1000000) DIV n_right")
            ).alias("score_u"),
        )
    )
    w = Window.orderBy("score_u", "threshold")
    return sc.select(
        "threshold",
        "n_left",
        "n_right",
        "score_u",
        F.row_number().over(w).cast("long").alias("split_rank"),
    )


# ---------------------------------------------------------------------------
# ts_holt_linear

_HOLT_SCHEMA = (
    "user_id long, bucket_ts timestamp, v_c100 long, "
    "level_c100 long, trend_c100 long"
)


def _holt_pdf(pdf):
    """Per-user fixed-point Holt linear smoothing, all BIGINT cents:
    l_1 = v_1, b_1 = 0;
    l_t = trunc((3·v_t + 7·(l + b)) / 10)      (α = 3/10)
    b_t = trunc((2·(l_t - l_prev) + 8·b) / 10) (β = 2/10)."""
    pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
    lv, tr = [], []
    l = b = None
    for v in pdf["v_c100"]:
        v = int(v)
        if l is None:
            l, b = v, 0
        else:
            lp = l
            l = _trunc_div10(3 * v + 7 * (l + b))
            b = _trunc_div10(2 * (l - lp) + 8 * b)
        lv.append(l)
        tr.append(b)
    pdf["level_c100"] = lv
    pdf["trend_c100"] = tr
    return pdf


@register(
    "ts_holt_linear",
    oracle=(
        _RANKED_BUCKETS_SQL + "h AS ("
        "SELECT user_id, bucket_ts, rn, v_c100, "
        "v_c100 AS l, CAST(0 AS BIGINT) AS t "
        "FROM b WHERE rn = 1 "
        "UNION ALL "
        "SELECT b.user_id, b.bucket_ts, b.rn, b.v_c100, "
        "(3 * b.v_c100 + 7 * (h.l + h.t)) // 10, "
        "(2 * ((3 * b.v_c100 + 7 * (h.l + h.t)) // 10 - h.l) + 8 * h.t) // 10 "
        "FROM b JOIN h ON b.user_id = h.user_id AND b.rn = h.rn + 1) "
        "SELECT user_id, bucket_ts, v_c100, CAST(l AS BIGINT) AS level_c100, "
        "CAST(t AS BIGINT) AS trend_c100 FROM h"
    ),
    doc=(
        "Fixed-point Holt double-exponential smoothing (level α = "
        "3/10, trend β = 2/10, BIGINT cents, division TRUNCATING "
        "toward zero) over per-user hourly buckets — ts_ewma's "
        "trend-aware sibling. The trend state goes NEGATIVE on any "
        "decline, so the cross-engine division semantics pinned by "
        "tests/test_r8_laws.py (DuckDB // truncates, Python floors) "
        "are load-bearing: _trunc_div10 spells out truncation on "
        "both recursion terms. Same scale shape as ts_ewma: one "
        "(user, hour) bucket aggregate, then ONE shuffle keyed by "
        "user into an Arrow-batched applyInPandas linear recursion "
        "over the bucket table (inherently sequential PER KEY, keys "
        "spread across the cluster). Oracle = recursive-CTE replay "
        "of the identical integer recursion."
    ),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = hourly_cents(t(spark, sf_dir, "events"))
    return per_user(b.select("user_id", "bucket_ts", "v_c100"), _holt_pdf, _HOLT_SCHEMA)


# ---------------------------------------------------------------------------
# evt_rfm_scores


@register(
    "evt_rfm_scores",
    oracle=(
        # floor() before the BIGINT cast: DuckDB epoch() is DOUBLE and
        # CAST rounds to NEAREST, while Spark unix_timestamp TRUNCATES
        # to whole seconds — on fractional stamps (all of testdata) the
        # two differ by 1s for fractions ≥ .5, and a 1s delta that
        # crosses a day boundary flips r_days and the NTILE r_score.
        "WITH u AS (SELECT user_id, "
        "CAST(floor(MAX(epoch(ts))) AS BIGINT) AS last_s, "
        "CAST(COUNT(*) AS BIGINT) AS f_cnt, "
        "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) "
        "AS m_c100 FROM events GROUP BY user_id), "
        "a AS (SELECT CAST(floor(MAX(epoch(ts))) AS BIGINT) AS anchor_s "
        "FROM events), "
        "r AS (SELECT u.user_id, "
        "(a.anchor_s - u.last_s) // 86400 AS r_days, u.f_cnt, u.m_c100 "
        "FROM u CROSS JOIN a), "
        "s AS (SELECT user_id, CAST(r_days AS BIGINT) AS r_days, "
        "f_cnt, m_c100, "
        "CAST(NTILE(5) OVER (ORDER BY r_days DESC, user_id) AS BIGINT) "
        "AS r_score, "
        "CAST(NTILE(5) OVER (ORDER BY f_cnt, user_id) AS BIGINT) "
        "AS f_score, "
        "CAST(NTILE(5) OVER (ORDER BY m_c100, user_id) AS BIGINT) "
        "AS m_score FROM r) "
        "SELECT user_id, r_days, f_cnt, m_c100, r_score, f_score, "
        "m_score, CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) "
        "AS rfm_segment FROM s"
    ),
    doc=(
        "Recency/frequency/monetary quintile segmentation per user — "
        "the canonical events-table marketing/engagement operator: "
        "recency in whole days against the dataset's max event time "
        "(epoch-seconds BIGINT arithmetic, ts_gap_fill's convention, "
        "so no engine-side date math), frequency = event count, "
        "monetary = cent-unit value sum; each scored 1–5 by NTILE "
        "over a fully deterministic total order (metric, then "
        "user_id — NTILE bucket sizing is identical across engines "
        "given the same order), 5 = most recent / most frequent / "
        "highest value; rfm_segment = the familiar 3-digit code. "
        "Scale shape: one map-side-combinable per-user aggregate of "
        "the fact table, a 1-row broadcast anchor, then three window "
        "rankings over the USER-level table — state-sized, never the "
        "event stream; the single-partition NTILE windows are the "
        "textbook candidate for a range-partitioned rank at 1e9+ "
        "users, and user counts sit orders below event counts."
    ),
)
def evt_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = read_raw_events(spark, sf_dir)
    ev = raw.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp(event_ts(raw)).alias("ts_s"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c100"),
    )
    u = ev.groupBy("user_id").agg(
        F.max("ts_s").alias("last_s"),
        F.count("*").alias("f_cnt"),
        F.sum("v_c100").cast("long").alias("m_c100"),
    )
    anchor = ev.agg(F.max("ts_s").alias("anchor_s"))
    r = u.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.expr("(anchor_s - last_s) DIV 86400").alias("r_days"),
        "f_cnt",
        "m_c100",
    )
    uid = F.asc_nulls_last("user_id")
    return r.select(
        "user_id",
        "r_days",
        "f_cnt",
        "m_c100",
        # a NULL user_id is one more user, tie-broken last as in DuckDB;
        # m_c100 is a SUM over nullable value cents — asc_nulls_last (r17 sweep)
        F.ntile(5).over(Window.orderBy(F.col("r_days").desc(), uid)).cast("long").alias("r_score"),
        F.ntile(5).over(Window.orderBy("f_cnt", uid)).cast("long").alias("f_score"),
        F.ntile(5).over(Window.orderBy(F.asc_nulls_last("m_c100"), uid)).cast("long").alias("m_score"),
    ).withColumn(
        "rfm_segment",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast("long"),
    )
