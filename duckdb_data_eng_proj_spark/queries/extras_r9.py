"""Round-9 operators: token-LCS pair diagnostic, one boosting round.

Two additions inside the r9 new-id budget (VERDICT r8 items 5 + 6):

- txt_longest_common_substring — per candidate near-dup pair, the
  length (in tokens) of the longest common token SUBSTRING, computed
  without dynamic programming on TRIGRAM positions (r10 rebuild): a
  common token substring of length n ≥ 3 contains exactly n-2
  consecutive trigram position-matches along one diagonal of the
  trigram match matrix, so LCS = (longest gaps-and-islands trigram
  run per (pair, diagonal)) + 2, and sharing a trigram is an EXACT
  qualifying filter for the operator's LCS ≥ 3 output floor — pairs
  with no shared trigram have LCS < 3 and are correctly excluded
  before the window ever sees them. Candidates come
  from the SAME LSH band-bucket join as ext_dedup_near (never
  all-pairs), which is what keeps both the Spark plan and the DuckDB
  oracle cheap. Completes the near-dup diagnostic family:
  dedup_span_exact finds shared fixed-W windows, ext_dedup_near scores
  set overlap — this ranks pairs by their longest CONTIGUOUS overlap.
- ml_gbdt_round — one discrete boosting round on top of
  ml_decision_stump: fit stump 1 by 0-1 error, reweight so the total
  integer mass of misclassified rows equals (to truncation) the mass
  of correct rows — AdaBoost's reweighting, which makes stump 1's
  weighted error exactly 1/2 — then emit stump 2's full weighted-error
  split table. All masses are LINEAR in the weights (0-1 error, not
  Gini), so unlike the stump's squared-count score nothing needs the
  long-division decomposition: every intermediate is bounded by
  2000·n and the arithmetic is BIGINT-exact to n ≈ 9×10^15 rows.

Reference parity: the reference (a DuckDB ETL take-home, pipeline.py)
has no text-similarity or ML operators — these extend the
training-pipeline families per the build charter. Both follow the
repo's determinism rules (registry.py): integer fixed-point, identical
tie-breaks and aliases in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.textops import tokens
from duckdb_data_eng_proj_spark.queries.registry import register, t
from duckdb_data_eng_proj_spark.queries.training import _LSH_PRELUDE

# ---------------------------------------------------------------------------
# txt_longest_common_substring

_LCS_MIN = 3  # report pairs sharing a run of at least this many tokens

_LCS_CAND_SQL = (
    "cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a, "
    "y.doc_id AS doc_b FROM bands x JOIN bands y ON x.band = y.band "
    "AND x.bucket = y.bucket AND x.doc_id < y.doc_id "
    "WHERE x.bucket IS NOT NULL)"
)

# token positions via struct-unnest (single pass per reference — see
# the _SIG_CTE comment in training.py for why not UNION ALL)
_LCS_POS_SQL = (
    "pos AS MATERIALIZED (SELECT doc_id, u.i AS i, u.tok AS tok FROM ("
    "SELECT doc_id, unnest(list_transform(range(len(tk)), "
    "i -> {'i': i, 'tok': tk[i+1]})) AS u FROM toks))"
)


@register(
    "txt_longest_common_substring",
    oracle=(
        f"{_LSH_PRELUDE}, {_LCS_CAND_SQL}, {_LCS_POS_SQL}, "
        "m AS (SELECT c.doc_a, c.doc_b, pa.i AS ia, pb.i AS jb "
        "FROM cand c JOIN pos pa ON pa.doc_id = c.doc_a "
        "JOIN pos pb ON pb.doc_id = c.doc_b AND pb.tok = pa.tok), "
        "r AS (SELECT doc_a, doc_b, ia, "
        "ia - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, ia - jb "
        "ORDER BY ia) AS grp, ia - jb AS diag FROM m), "
        "runs AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS run_len "
        "FROM r GROUP BY doc_a, doc_b, diag, grp), "
        "lcs AS (SELECT doc_a, doc_b, MAX(run_len) AS lcs_tokens "
        "FROM runs GROUP BY doc_a, doc_b) "
        "SELECT doc_a, doc_b, lcs_tokens, "
        "CAST(ROW_NUMBER() OVER (ORDER BY lcs_tokens DESC, doc_a, doc_b) "
        "AS BIGINT) AS lcs_rank FROM lcs "
        f"WHERE lcs_tokens >= {_LCS_MIN}"
    ),
    doc=(
        "Longest common token substring per LSH candidate pair, no DP, "
        "computed on TRIGRAM positions: a common substring of n >= 3 "
        "tokens is exactly n-2 consecutive trigram position-matches "
        "along one diagonal (ia - jb), so LCS = max gaps-and-islands "
        "run + 2 (identity pinned against textbook DP in "
        "tests/test_r10_laws.py). Trigram matches are ~6× rarer than "
        "token matches (stop-token fan-out disappears), and the "
        "trigram equi-join itself is an EXACT qualifying filter — a "
        "pair shares a trigram iff LCS >= 3, precisely the output "
        "cut — so only output-bound pairs (15.6k of 72k LSH candidates "
        "at sf0.1) ever reach the window shuffle; non-qualifying "
        "pairs produce zero match rows map-side (r11: the previous "
        "separate pre-filter stage duplicated this qualification and "
        "was removed — one fewer checkpoint, measured faster). "
        "Candidates are the "
        "ext_dedup_near band-bucket join (bounded, never all-pairs); "
        "the corpus is tokenized once into a checkpointed "
        "candidate-pruned trigram-position table that feeds the "
        "(broadcast-join) match relation. At 100 TB "
        "every stage is candidate-bounded: inverted-index join, "
        "broadcast match fan-out, one (doc_a, doc_b)-keyed window "
        "shuffle. Output: pairs sharing a run of "
        f">= {_LCS_MIN} tokens, ranked longest-first."
    ),
)
def txt_longest_common_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Checkpointed: cand is referenced twice below (the doc prune and
    # the broadcast match join) — without the barrier each reference
    # re-runs the band self-join (and, pre-r21, the whole MinHash
    # front half: measured 8.5 s -> ~3 s at sf0.1).
    # r21: candidate generation moved to training._lsh_cand_pairs
    # (lsh.band_table + lsh.first_match) — MinHash chain hashed ONCE
    # into a checkpointed band table instead of once per self-join
    # side, DISTINCT exchange gone; exact same pair set (pinned by
    # tests/test_lsh.py + oracle hash match).
    # EAGER: cand feeds a broadcast exchange and the doc prune; a
    # lazy checkpoint would be raced into concurrent recomputes
    # of the band self-join (measured r11: 15.7 s lazy vs ~5.5 s
    # eager for the whole operator at sf0.1).
    from duckdb_data_eng_proj_spark.queries.training import _lsh_cand_pairs

    cand = _lsh_cand_pairs(spark, sf_dir).localCheckpoint()
    docs = t(spark, sf_dir, "documents")
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # The whole back half runs on TRIGRAM positions, not token
    # positions (the dedup_span_exact machinery at W = 3): a common
    # substring of n >= 3 tokens is exactly n-2 consecutive trigram
    # position-matches along one diagonal, so LCS = max trigram run
    # + 2 — and trigram matches are ~6× rarer than token matches
    # (no stop-token fan-out), which shrinks the window shuffle from
    # ~10M rows to well under 1M at sf0.1 (8.5 s -> ~4 s measured).
    # The same table also feeds the EXACT qualifying filter: a pair
    # reaches the window iff it shares >= 1 trigram, i.e. iff LCS >= 3
    # — precisely the pairs the >= _LCS_MIN output filter keeps.
    from duckdb_data_eng_proj_spark.operators.textops import word_ngrams

    # Token array behind a projection barrier (the measured r4/r11
    # pitfall): inlined, tokens() re-evaluates inside word_ngrams'
    # transform lambda per position — 3.8-4.2 s vs 0.5 s for this
    # explode at sf0.1 (8×; CollapseProject keeps the barrier because
    # `tk` is referenced more than once by the n-gram expression).
    tk = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    posg = (
        tk.select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("tk"), 3)).alias("i", "g"),
        )
        .join(F.broadcast(cdocs), "doc_id", "leftsemi")
        .localCheckpoint()
    )
    # Match relation built by two BROADCAST joins (cand and the pruned
    # trigram-position table are both candidate-bounded), so the
    # fan-out streams map-side straight into the window shuffle — the
    # only exchange of match data is the (pair, diag)-keyed one.
    # r11: the separate shared-trigram qualifying stage (tgd
    # self-join + leftsemi + a third eager checkpoint) was REMOVED —
    # the match join on (doc_b, g) performs exactly the same
    # qualification implicitly (a pair with no shared trigram
    # produces zero match rows, and the >= _LCS_MIN output filter
    # drops it either way). Same-day A/B at sf0.1: 6.2-6.8 s vs
    # 7.1-7.4 s with the stage, identical 15629-row output, and one
    # fewer checkpoint rebuilt per bench lap (the lap-variance
    # source VERDICT r10 item 4 flags).
    pos_a = posg.select(
        F.col("doc_id").alias("doc_a"), F.col("i").alias("ia"), "g"
    )
    pos_b = posg.select(
        F.col("doc_id").alias("doc_b"), F.col("i").alias("jb"), "g"
    )
    m = (
        pos_a.join(F.broadcast(cand), "doc_a")
        .join(F.broadcast(pos_b), ["doc_b", "g"])
        .select(
            "doc_a", "doc_b", (F.col("ia") - F.col("jb")).alias("diag"), "ia"
        )
    )
    # Gaps-and-islands window + count is the measured-fastest tail: a
    # per-group fold (collect_list + aggregate lambda) pays ~µs of
    # interpreter setup per (pair, diag) group × millions of groups
    # (measured ~15 s for the fold form at sf0.1); the codegen'd
    # window pays once per row.
    # r21: the window partitions by (doc_a, doc_b) ONLY, ordering by
    # (diag, ia) — same sort keys as partitioning by (pair, diag) and
    # ordering by ia, but now BOTH downstream groupBys reuse the
    # window's hashpartitioning(doc_a, doc_b) (3 shuffles -> 2; the
    # old shape re-exchanged `runs` for the per-pair max). Exact:
    # within one diag the pair-wide row_number is the per-diag
    # row_number plus a constant (the count of that pair's rows on
    # smaller diagonals), so `grp` shifts by a per-diag constant —
    # groups and their counts are unchanged, and `diag` stays in the
    # group key so cross-diag collisions cannot merge runs. Pinned by
    # tests/test_r21_opt_laws.py::test_lcs_pairwide_window_identity.
    r = m.select(
        "doc_a",
        "doc_b",
        "diag",
        (
            F.col("ia")
            - F.row_number().over(
                Window.partitionBy("doc_a", "doc_b").orderBy("diag", "ia")
            )
        ).alias("grp"),
    )
    runs = r.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        F.count("*").alias("run_len")
    )
    lcs = runs.groupBy("doc_a", "doc_b").agg(
        (F.max("run_len") + 2).alias("lcs_tokens")
    )
    w = Window.orderBy(F.col("lcs_tokens").desc(), "doc_a", "doc_b")
    return (
        lcs.filter(F.col("lcs_tokens") >= _LCS_MIN)
        .select(
            "doc_a",
            "doc_b",
            "lcs_tokens",
            F.row_number().over(w).cast("long").alias("lcs_rank"),
        )
    )


# ---------------------------------------------------------------------------
# ml_gbdt_round

# Integer AdaBoost reweighting at per-mille precision: correct rows
# weigh 1000, misclassified rows weigh (n_corr·1000) DIV n_err — the
# truncated integer ratio that (to 1/1000) equalizes the two masses,
# which is exactly AdaBoost's property that the previous stump's
# weighted error becomes 1/2. Positive operands throughout, so
# DuckDB // == Spark DIV (the r8 sign-parity law).
_GBDT_W_CORR = 1000


@register(
    "ml_gbdt_round",
    oracle=(
        "WITH base AS (SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q, "
        "l_returnflag AS cls FROM lineitem), "
        "cnt AS MATERIALIZED (SELECT q, cls, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM base GROUP BY 1, 2), "
        "grid AS MATERIALIZED (SELECT qs.q, cs.cls FROM "
        "(SELECT DISTINCT q FROM base) qs CROSS JOIN "
        "(SELECT DISTINCT cls FROM base) cs), "
        "tot AS MATERIALIZED (SELECT cls, CAST(COUNT(*) AS BIGINT) AS t "
        "FROM base GROUP BY cls), "
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base), "
        "cum AS MATERIALIZED (SELECT g.q, g.cls, "
        "CAST(SUM(COALESCE(cnt.c, 0)) OVER ("
        "PARTITION BY g.cls ORDER BY g.q) AS BIGINT) AS cl "
        "FROM grid g LEFT JOIN cnt ON cnt.q = g.q AND cnt.cls = g.cls), "
        "s1 AS MATERIALIZED (SELECT cum.q, "
        "CAST(SUM(cum.cl) AS BIGINT) AS n_left, "
        "CAST(MAX(cum.cl) AS BIGINT) AS lmax, "
        "CAST(MAX(tot.t - cum.cl) AS BIGINT) AS rmax "
        "FROM cum JOIN tot ON tot.cls = cum.cls GROUP BY cum.q), "
        "pick AS MATERIALIZED (SELECT q AS t1, lmax + rmax AS n_corr FROM ("
        "SELECT s1.q, s1.lmax, s1.rmax, ROW_NUMBER() OVER ("
        "ORDER BY nn.n - s1.lmax - s1.rmax, s1.q) AS rn "
        "FROM s1 CROSS JOIN nn WHERE nn.n > s1.n_left) WHERE rn = 1), "
        "clsl AS (SELECT cls AS class_l FROM (SELECT cum.cls, "
        "ROW_NUMBER() OVER (ORDER BY cum.cl DESC, cum.cls) AS rn "
        "FROM cum JOIN pick ON cum.q = pick.t1) WHERE rn = 1), "
        "clsr AS (SELECT cls AS class_r FROM (SELECT cum.cls, "
        "ROW_NUMBER() OVER (ORDER BY tot.t - cum.cl DESC, cum.cls) AS rn "
        "FROM cum JOIN tot ON tot.cls = cum.cls "
        "JOIN pick ON cum.q = pick.t1) WHERE rn = 1), "
        "w AS MATERIALIZED (SELECT pick.t1, nn.n - pick.n_corr AS n_err1, "
        "clsl.class_l, clsr.class_r, "
        f"CASE WHEN nn.n - pick.n_corr = 0 THEN {_GBDT_W_CORR} "
        f"ELSE (pick.n_corr * {_GBDT_W_CORR}) // (nn.n - pick.n_corr) END "
        "AS w_wrong FROM pick CROSS JOIN nn "
        "CROSS JOIN clsl CROSS JOIN clsr), "
        "wcnt AS MATERIALIZED (SELECT cnt.q, cnt.cls, "
        "CAST(cnt.c * (CASE WHEN (cnt.q <= w.t1 AND cnt.cls = w.class_l) "
        "OR (cnt.q > w.t1 AND cnt.cls = w.class_r) "
        f"THEN {_GBDT_W_CORR} ELSE w.w_wrong END) AS BIGINT) AS wc "
        "FROM cnt CROSS JOIN w), "
        "wcum AS MATERIALIZED (SELECT g.q, g.cls, "
        "CAST(SUM(COALESCE(wcnt.wc, 0)) OVER ("
        "PARTITION BY g.cls ORDER BY g.q) AS BIGINT) AS wcl "
        "FROM grid g LEFT JOIN wcnt ON wcnt.q = g.q AND wcnt.cls = g.cls), "
        "wtot AS MATERIALIZED (SELECT cls, CAST(SUM(wc) AS BIGINT) AS wt "
        "FROM wcnt GROUP BY cls), "
        "wall AS (SELECT CAST(SUM(wc) AS BIGINT) AS w_all FROM wcnt), "
        "s2 AS (SELECT wcum.q, CAST(MAX(wcum.wcl) AS BIGINT) AS wlmax, "
        "CAST(MAX(wtot.wt - wcum.wcl) AS BIGINT) AS wrmax "
        "FROM wcum JOIN wtot ON wtot.cls = wcum.cls GROUP BY wcum.q), "
        "outr AS (SELECT s2.q AS threshold, "
        "wall.w_all - s2.wlmax - s2.wrmax AS werr_mass "
        "FROM s2 CROSS JOIN wall JOIN s1 ON s1.q = s2.q CROSS JOIN nn "
        "WHERE nn.n > s1.n_left) "
        "SELECT CAST(w.t1 AS BIGINT) AS t1, "
        "CAST(w.n_err1 AS BIGINT) AS n_err1, "
        "CAST(w.w_wrong AS BIGINT) AS w_wrong, "
        "CAST(outr.threshold AS BIGINT) AS threshold, "
        "CAST(outr.werr_mass AS BIGINT) AS werr_mass, "
        "CAST(ROW_NUMBER() OVER (ORDER BY outr.werr_mass, outr.threshold) "
        "AS BIGINT) AS split_rank FROM outr CROSS JOIN w"
    ),
    doc=(
        "One discrete boosting round over the ml_decision_stump "
        "machinery (extras_r8.py): stump 1 picks the l_quantity "
        "threshold minimizing 0-1 error against the 3-class "
        "l_returnflag label (ties to the smallest threshold; each "
        "side predicts its majority class, ties to the smallest "
        "class); rows it misclassifies are reweighted by the integer "
        "per-mille AdaBoost ratio (n_corr·1000) DIV n_err vs 1000 — "
        "equalizing the correct/incorrect masses, i.e. driving stump "
        "1's weighted error to 1/2 — and the output is stump 2's full "
        "weighted-error split table (threshold, weighted "
        "misclassification mass, rank; split_rank 1 is the boosted "
        "stump) with the round-1 constants (t1, n_err1, w_wrong) on "
        "every row. 0-1 error keeps every quantity LINEAR in the "
        "masses — no squared counts, so no long-division "
        "decomposition: max intermediate = 2000·n, BIGINT-exact to "
        "n ≈ 9e15 rows (vs the Gini stump's 3e9). Scale shape: TWO "
        "map-side-combinable scans of the fact table ((q, cls) count "
        "is computed once and reused), then every later stage runs on "
        "the |thresholds| × |classes| grid; the round-1 model (one "
        "row) is broadcast into the reweight."
    ),
)
def ml_gbdt_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.round("l_quantity", 0).cast("long").alias("q"),
        F.col("l_returnflag").alias("cls"),
    )
    cnt = base.groupBy("q", "cls").agg(F.count("*").alias("c")).localCheckpoint()
    grid = (
        cnt.select("q").distinct()
        .crossJoin(F.broadcast(cnt.select("cls").distinct()))
    )
    tot = cnt.groupBy("cls").agg(F.sum("c").alias("t"))
    nn = cnt.agg(F.sum("c").alias("n"))
    cum = (
        grid.join(cnt, ["q", "cls"], "left")
        .select(
            "q",
            "cls",
            F.sum(F.coalesce(F.col("c"), F.lit(0)))
            .over(Window.partitionBy("cls").orderBy("q"))
            .alias("cl"),
        )
        .localCheckpoint()
    )
    s1 = (
        cum.join(F.broadcast(tot), "cls")
        .groupBy("q")
        .agg(
            F.sum("cl").alias("n_left"),
            F.max("cl").alias("lmax"),
            F.max(F.col("t") - F.col("cl")).alias("rmax"),
        )
        .localCheckpoint()
    )
    pick = (
        s1.crossJoin(F.broadcast(nn))
        .filter(F.col("n") > F.col("n_left"))
        .select(
            "q",
            (F.col("lmax") + F.col("rmax")).alias("n_corr"),
            F.row_number()
            .over(Window.orderBy(F.col("n") - F.col("lmax") - F.col("rmax"), "q"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("q").alias("t1"), "n_corr")
    )
    at_t1 = cum.join(F.broadcast(pick), cum["q"] == pick["t1"])
    clsl = (
        at_t1.select(
            "cls",
            F.row_number()
            .over(Window.orderBy(F.col("cl").desc(), "cls"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("cls").alias("class_l"))
    )
    clsr = (
        at_t1.join(F.broadcast(tot.select(F.col("cls"), F.col("t"))), "cls")
        .select(
            "cls",
            F.row_number()
            .over(Window.orderBy((F.col("t") - F.col("cl")).desc(), "cls"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("cls").alias("class_r"))
    )
    w = (
        pick.crossJoin(nn)
        .crossJoin(clsl)
        .crossJoin(clsr)
        .select(
            "t1",
            (F.col("n") - F.col("n_corr")).alias("n_err1"),
            "class_l",
            "class_r",
            F.when(F.col("n") - F.col("n_corr") == 0, F.lit(_GBDT_W_CORR))
            .otherwise(
                F.expr(f"(n_corr * {_GBDT_W_CORR}) DIV (n - n_corr)")
            )
            .alias("w_wrong"),
        )
        .localCheckpoint()
    )
    correct = (
        (F.col("q") <= F.col("t1")) & (F.col("cls") == F.col("class_l"))
    ) | ((F.col("q") > F.col("t1")) & (F.col("cls") == F.col("class_r")))
    wcnt = cnt.crossJoin(F.broadcast(w)).select(
        "q",
        "cls",
        (
            F.col("c")
            * F.when(correct, F.lit(_GBDT_W_CORR)).otherwise(F.col("w_wrong"))
        ).alias("wc"),
    ).localCheckpoint()
    wcum = (
        grid.join(wcnt.select("q", "cls", "wc"), ["q", "cls"], "left")
        .select(
            "q",
            "cls",
            F.sum(F.coalesce(F.col("wc"), F.lit(0)))
            .over(Window.partitionBy("cls").orderBy("q"))
            .alias("wcl"),
        )
    )
    wtot = wcnt.groupBy("cls").agg(F.sum("wc").alias("wt"))
    wall = wcnt.agg(F.sum("wc").alias("w_all"))
    s2 = (
        wcum.join(F.broadcast(wtot), "cls")
        .groupBy("q")
        .agg(
            F.max("wcl").alias("wlmax"),
            F.max(F.col("wt") - F.col("wcl")).alias("wrmax"),
        )
    )
    outr = (
        s2.crossJoin(F.broadcast(wall))
        .join(s1.select("q", "n_left"), "q")
        .crossJoin(F.broadcast(nn))
        .filter(F.col("n") > F.col("n_left"))
        .select(
            F.col("q").alias("threshold"),
            (F.col("w_all") - F.col("wlmax") - F.col("wrmax")).alias("werr_mass"),
        )
    )
    rank = Window.orderBy("werr_mass", "threshold")
    return outr.crossJoin(
        F.broadcast(w.select("t1", "n_err1", "w_wrong"))
    ).select(
        "t1",
        "n_err1",
        "w_wrong",
        "threshold",
        "werr_mass",
        F.row_number().over(rank).cast("long").alias("split_rank"),
    )
