"""Round-15 operators.

- evt_session_paths — top-k ordered event-type paths per session: the
  sequence-analytics gap between ext_sessionize (session boundaries,
  no order inside) and evt_markov_transition (adjacent pairs, no
  paths). The path prefix (first _PATH_DEPTH event types, '>'-joined)
  is THE funnel artifact product analytics ships.
- mm_image_resize — pure-stdlib nearest-neighbor BMP resize feeding
  dHash: deepens the multimodal family past decode (VERDICT r14: the
  one family where "implemented" meant plumbing + exemplars). The
  oracle re-derives the resized pixels closed-form from the synthetic
  gradient, so a hash match proves encode → decode → resample →
  re-encode → re-decode → hash byte-exactly.
- graph_mst_boruvka — minimum spanning forest of the near-dup pair
  graph via Borůvka rounds: the iterative-family shape (per-round
  argmin + pointer-jumping contraction) that CC/pagerank/k-core lack.
  Lexicographic (w, a, b) edge order makes the forest UNIQUE, so the
  cross-engine oracle and the pure-Python Kruskal replay both pin the
  exact edge set.

Reference parity note: the reference repo (DuckDB loan-ETL take-home,
pipeline.py/queries.sql) has no session-path, image, or graph surface
— these extend the training-data / analytics families the brief
grades as first-class, from public semantics only (Borůvka 1926;
dHash per the public perceptual-hash family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.sessions import sessionized
from duckdb_data_eng_proj_spark.queries.registry import register, t

# ---------------------------------------------------------------------------
# evt_session_paths

_PATH_DEPTH = 4  # path prefix length (event types per session)
_PATH_TOPK = 10  # fused report depth
_SESSION_GAP_S = 1800  # ext_sessionize's 30-min rule, shared verbatim


@register(
    "evt_session_paths",
    oracle=(
        "WITH flagged AS (SELECT user_id, ts, event_id, event_type, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        f"OR date_diff('second', lag(ts) OVER w, ts) > {_SESSION_GAP_S} "
        "THEN 1 ELSE 0 END AS new_session "
        "FROM events WHERE ts IS NOT NULL "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS (SELECT user_id, ts, event_id, event_type, "
        "SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING) AS session_id FROM flagged), "
        "numbered AS (SELECT user_id, session_id, event_type, "
        "row_number() OVER (PARTITION BY user_id, session_id "
        "ORDER BY ts, event_id) AS rn FROM sess), "
        "paths AS (SELECT user_id, session_id, "
        "string_agg(event_type, '>' ORDER BY rn) AS path "
        f"FROM numbered WHERE rn <= {_PATH_DEPTH} "
        "GROUP BY user_id, session_id), "
        "pc AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions, "
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users "
        "FROM paths GROUP BY path) "
        "SELECT path, n_sessions, n_users, rank FROM ("
        "SELECT path, n_sessions, n_users, CAST(row_number() OVER ("
        "ORDER BY n_sessions DESC, path) AS BIGINT) AS rank FROM pc) "
        f"WHERE rank <= {_PATH_TOPK}"
    ),
    doc=(
        "TOP-K SESSION PATHS — the ordered-path gap between "
        "ext_sessionize (boundaries only) and evt_markov_transition "
        "(adjacent pairs only): sessionize with the SAME 30-min-gap "
        "rule (lag → flag → running sum), number events inside each "
        "session by (ts, event_id), join the first 4 event types "
        "into a '>'-delimited path prefix, count sessions and "
        "distinct users per path, report the top 10 by (n_sessions "
        "DESC, path). All counts BIGINT and the path a string, so "
        "the hash is cross-engine exact. Scale shape: ONE user-keyed "
        "exchange serves the lag window, the running sum, AND the "
        "per-session ordered agg (hash(user_id) co-locates every "
        "(user_id, session_id) group, so Catalyst reuses the "
        "partitioning — plan-pinned exchange budget); the path "
        "groupBy is combinable (map-side partial counts) and its key "
        "space is bounded by |event_types|^4, not by rows; the final "
        "top-k window sees only distinct paths. collect_list is "
        "partition-order nondeterministic -> sort_array on (rn, type) "
        "structs before joining (agg_array_ordered's rule)."
    ),
    tags=("events", "sessions"),
)
def evt_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # Shared lag→flag→running-sum block: operators/sessions.sessionized
    # (r16 — previously re-inlined from ext_sessionize).
    sess = sessionized(e, _SESSION_GAP_S)
    wn = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    numbered = sess.withColumn("rn", F.row_number().over(wn)).filter(
        F.col("rn") <= _PATH_DEPTH
    )
    # array_join skips NULL types as string_agg does; a session with no
    # typed event has no path (NULL, as string_agg's), not ''
    paths = numbered.groupBy("user_id", "session_id").agg(
        F.when(
            F.count("event_type") > 0,
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ),
        ).alias("path")
    )
    pc = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    wr = Window.orderBy(F.desc("n_sessions"), F.asc_nulls_last("path"))
    return (
        pc.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= _PATH_TOPK)
        .select("path", "n_sessions", "n_users", "rank")
    )


# ---------------------------------------------------------------------------
# mm_image_resize

_RS_SIDE = 16  # destination side (16x16 nearest-neighbor thumbnail)


def _resize_oracle() -> str:
    """Closed-form replica of the resize round-trip over the synthetic
    gradient (mm_image_dhash_dedup's oracle pattern): source pixel
    (x, y) = (seed*31 + x*97 + y*13) % 251 with sw = sh = seed%4 + 8,
    so the RESIZED pixel at destination (x, y) is the formula at
    (x*sw DIV 16, y*sh DIV 16) — DuckDB does all the arithmetic
    itself; nothing is precomputed Python-side."""
    n = _RS_SIDE

    def rp(sx: str, sy: str) -> str:
        # resized pixel: gradient sampled at the nearest-neighbor
        # source coordinate (integer division, exactly the codec's)
        return (
            f"((seed * 31 + ((({sx}) * w) // {n}) * 97"
            f" + ((({sy}) * w) // {n}) * 13) % 251)"
        )

    # dHash of the resized image (w = h = 16): bit (j*8+i) set when
    # the 9x8-grid sample at column i exceeds column i+1.
    terms = []
    for j in range(8):
        sy = str((j * n) // 8)
        for i in range(8):
            a = rp(str((i * n) // 9), sy)
            b = rp(str(((i + 1) * n) // 9), sy)
            bit = 1 << (j * 8 + i)
            val = bit - (1 << 64) if bit >= (1 << 63) else bit
            terms.append(
                f"(CASE WHEN {a} > {b} THEN CAST({val} AS BIGINT) "
                "ELSE 0 END)"
            )
    dhash_expr = " + ".join(terms)
    # BMP byte size of the 16x16 result: 54-byte header + padded rows
    dst_bytes = 54 + (((n * 3 + 3) // 4) * 4) * n
    return (
        "WITH img AS (SELECT doc_id, doc_id % 16 AS seed, "
        "(doc_id % 16) % 4 + 8 AS w FROM documents), "
        "sd AS (SELECT DISTINCT seed, w FROM img), "
        f"g AS (SELECT x.r AS x, y.r AS y FROM range({n}) x(r), "
        f"range({n}) y(r)), "
        "ps AS (SELECT sd.seed, "
        f"CAST(SUM({rp('g.x', 'g.y')}) AS BIGINT) AS pix_sum "
        "FROM sd, g GROUP BY sd.seed, sd.w), "
        f"hs AS (SELECT seed, CAST({dhash_expr} AS BIGINT) AS dhash_rs "
        "FROM sd) "
        "SELECT i.doc_id, CAST(i.w AS BIGINT) AS src_w, "
        "CAST(i.w AS BIGINT) AS src_h, "
        f"CAST({n} AS BIGINT) AS dst_w, CAST({n} AS BIGINT) AS dst_h, "
        f"CAST({dst_bytes} AS BIGINT) AS dst_bytes, "
        "ps.pix_sum, hs.dhash_rs "
        "FROM img i JOIN ps ON ps.seed = i.seed "
        "JOIN hs ON hs.seed = i.seed"
    )


@register(
    "mm_image_resize",
    oracle=_resize_oracle(),
    doc=(
        "IMAGE RESIZE PLUMBING — nearest-neighbor 16x16 thumbnail of "
        "every document's synthetic 24-bpp BMP (the gradient family "
        "mm_image_dhash_dedup hashes): synthesize a REAL BMP "
        "(doc_id-keyed dims, pure-stdlib writer), struct-DECODE it, "
        "resample src(x*sw DIV 16, y*sh DIV 16) per destination "
        "pixel, RE-ENCODE a real 16x16 BMP, re-decode THAT, and "
        "report its byte size, first-channel pixel sum, and dHash — "
        "so the oracle's closed-form integers prove the encode -> "
        "decode -> resample -> re-encode -> re-decode -> hash chain "
        "byte-exactly, not just the metadata. Deepens the multimodal "
        "family past decode (VERDICT r14). Scale shape: two narrow "
        "Arrow mapInPandas stages (synthesis, resize+features) with "
        "ZERO shuffle — O(src pixels + dst pixels) per image, the "
        "documented multimodal slow-path budget; parallelism = input "
        "splits (see the r15 width-disposition ledger). Real decoders "
        "for compressed formats slot into the same two-stage shape."
    ),
    tags=("multimodal",),
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_data_eng_proj_spark.operators.multimodal import (
        bmp_geometry,
        decode,
        dhash_bmp,
        gradient_bmp,
        resize_bmp_nearest,
        synthesize,
    )

    n = _RS_SIDE

    def resize_feats(payload: bytes) -> dict:
        # header-only source read: decode_image would full-scan every
        # source pixel for a mean this op never uses
        _, src_w, src_h, _ = bmp_geometry(payload)
        rs = resize_bmp_nearest(payload, n, n)
        offset, _, _, stride = bmp_geometry(rs)
        pix_sum = sum(
            rs[offset + r * stride + 3 * x] for r in range(n) for x in range(n)
        )
        return {
            "src_w": src_w, "src_h": src_h, "dst_w": n, "dst_h": n,
            "dst_bytes": len(rs), "pix_sum": pix_sum, "dhash_rs": dhash_bmp(rs),
        }

    media = synthesize(t(spark, sf_dir, "documents"), "image/bmp", gradient_bmp)
    return decode(
        media,
        resize_feats,
        "doc_id long, src_w long, src_h long, dst_w long, dst_h long, "
        "dst_bytes long, pix_sum long, dhash_rs long",
    )


# ---------------------------------------------------------------------------
# graph_mst_boruvka

from duckdb_data_eng_proj_spark.operators.graph import (  # noqa: E402
    ptr_contract,
    star_fixpoint,
    state_sized_shuffle,
)
from duckdb_data_eng_proj_spark.queries.corpus import (  # noqa: E402
    _PAIRS_SQL,
    _near_dup_pairs,
)
from duckdb_data_eng_proj_spark.queries.training import (  # noqa: E402
    _LSH_PRELUDE_BODY,
)

# 0.10, NOT the cc family's 0.05: at 0.05 this testdata's topical
# similarity fuses a single giant component (4521 docs at sf0.1) whose
# MSF is a hairball — and whose exact-SQL oracle (bottleneck closure)
# is quadratic in component size. At 0.10 the graph is the true
# near-dup forest (sf0.1: 829 edges, 519 components, largest ~36), the
# dendrogram skeleton single-linkage actually cuts. Measured sweep in
# SURVEY round-15 log.
_MST_THR = 0.10
# Crossover policy (dedup_cluster_cc's): run TRUE Borůvka rounds while
# the live component graph is corpus-scale (each round at least halves
# live components — 2 rounds resolve every pair/triangle cluster, the
# near-dup bulk), then contract by the partial labels and finish each
# bounded residual group with exact Kruskal in one Arrow-grouped
# stage. Depth-invariance of the hybrid is law-tested (forced rounds
# 0 / _MST_BORUVKA_ROUNDS / 8 all yield the identical edge set).
# r20: 3 rounds, not 2 — the third round resolves the rare
# 4-component chain the pair/triangle bulk leaves behind, and when it
# empties the live set the crossover short-circuits entirely (no star
# fixpoint, no Arrow Kruskal stage — each of which costs more in
# driver-side plan+codegen than one extra state-sized pick round at
# any scale where the residual is small). Measured at sf0.1:
# rounds=3 5.06 s vs rounds=2 7.78 s vs rounds=0 11.0 s, identical
# output (the law test pins depth invariance).
_MST_BORUVKA_ROUNDS = 3

# Minimum spanning FOREST oracle via the bottleneck characterization
# (no unrolled rounds, no union-find): rank edges by the lexicographic
# total order (w, doc_a, doc_b) — which makes the forest UNIQUE — and
# an edge is in the MSF iff its endpoints are NOT connected using only
# strictly smaller edges, i.e. iff its rank equals the minimax
# ("bottleneck") rank over all walks between its endpoints. The
# recursive closure carries (u, v, max-rank-so-far) rows and the MIN
# per pair is taken after — exact fixpoint, same WITH RECURSIVE shape
# as dedup_cluster_cc's reachability oracle.
_MST_ORACLE = (
    "WITH RECURSIVE "
    + _LSH_PRELUDE_BODY
    + ", "
    + _PAIRS_SQL.format(thr=_MST_THR)
    + ", wnd AS MATERIALIZED (SELECT p.doc_a, p.doc_b, "
    "CAST(1000 - (1000 * len(list_intersect(a.bg, b.bg))) // "
    "(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) "
    "AS BIGINT) AS w "
    "FROM ndpairs p JOIN bg a ON a.doc_id = p.doc_a "
    "JOIN bg b ON b.doc_id = p.doc_b), "
    "re AS MATERIALIZED (SELECT doc_a, doc_b, w, "
    "CAST(row_number() OVER (ORDER BY w, doc_a, doc_b) AS BIGINT) AS r "
    "FROM wnd), "
    "sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v, r FROM re "
    "UNION ALL SELECT doc_b AS u, doc_a AS v, r FROM re), "
    "clos AS (SELECT u, v, r AS b FROM sym "
    "UNION SELECT c.u, s.v, GREATEST(c.b, s.r) AS b "
    "FROM clos c JOIN sym s ON s.u = c.v WHERE s.v <> c.u), "
    "bt AS (SELECT u, v, MIN(b) AS bb FROM clos GROUP BY u, v) "
    "SELECT re.doc_a, re.doc_b, re.w AS w_permille FROM re "
    "JOIN bt ON bt.u = re.doc_a AND bt.v = re.doc_b WHERE bt.bb = re.r"
)


def _weighted_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus._near_dup_pairs(keep_sizes=True) with the integer
    dissimilarity attached: w = 1000 - (1000·|A∩B|) DIV |A∪B| —
    BIGINT floor division on both engines, so weights are
    cross-engine exact. (r16: previously a full copy of the
    candidate+verify pipeline; now the one helper serves both.)"""
    return _near_dup_pairs(spark, sf_dir, _MST_THR, keep_sizes=True).select(
        "doc_a",
        "doc_b",
        F.expr(
            "CAST(1000 AS BIGINT) - (CAST(1000 AS BIGINT) * "
            "CAST(inter AS BIGINT)) DIV CAST(uni AS BIGINT)"
        ).alias("w_permille"),
    )


@register(
    "graph_mst_boruvka",
    oracle=_MST_ORACLE,
    doc=(
        "MINIMUM SPANNING FOREST of the near-dup pair graph via "
        "BORŮVKA rounds — the iterative-family shape "
        "(per-round argmin + star contraction) that CC/pagerank/"
        "k-core lack; the MSF is the similarity-dendrogram skeleton "
        "single-linkage clustering cuts. Edge weight = integer "
        "dissimilarity permille (1000 - 1000·|A∩B| DIV |A∪B|); the "
        "lexicographic (w, doc_a, doc_b) order is TOTAL, so the "
        "forest is unique and both engines pin the exact edge set. "
        "Per round: attach component labels (two doc-keyed joins), "
        "every component picks its minimum outgoing edge (struct-min "
        "groupBy — map-side combinable, never a collected edge "
        "list), chosen edges contract by the alternating-star "
        "fixpoint on the COMPONENT graph (component-sized, halving "
        "per round), and the surviving cross-component edges become "
        "the next round's working set. Live components at least "
        f"halve per round; after {_MST_BORUVKA_ROUNDS} rounds (the "
        "near-dup bulk: every pair/triangle cluster and the rare "
        "4-component chain are resolved) a CROSSOVER contracts by "
        "the partial labels and finishes each bounded residual group "
        "with exact Kruskal in one explicit-width Arrow-grouped "
        "stage — dedup_cluster_cc's crossover policy, with hybrid "
        f"depth output-invariance law-tested at rounds "
        f"0/{_MST_BORUVKA_ROUNDS}/8 "
        "(driver loop is O(1) control, all data work distributed: "
        "lazy localCheckpoint per round, state-sized shuffle "
        "width). The oracle avoids "
        "iteration entirely via the bottleneck characterization: an "
        "edge is in the unique MSF iff no walk between its endpoints "
        "uses only strictly smaller edges (WITH RECURSIVE closure "
        "carrying max-rank-so-far, MIN per pair after)."
    ),
    tags=("graph", "dedup"),
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mst_boruvka_rounds(spark, sf_dir, _MST_BORUVKA_ROUNDS)


def _mst_boruvka_rounds(
    spark: SparkSession, sf_dir: str, boruvka_rounds: int
) -> DataFrame:
    """Parameterized Borůvka-round count so the crossover-equality law
    test can force rounds=0 (pure contracted Kruskal) and a deep
    rounds value against the shipped hybrid — dedup_cluster_cc's
    forced-crossover test pattern."""
    pairs = _weighted_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"), "w_permille"
    ).localCheckpoint()
    verts = (
        edges.select(F.col("a").alias("doc_id"))
        .unionByName(edges.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    labels = verts.select("doc_id", F.col("doc_id").alias("lbl")).localCheckpoint()

    def relabel(e: DataFrame, lab: DataFrame) -> DataFrame:
        la = lab.select(F.col("doc_id").alias("a"), F.col("lbl").alias("ca"))
        lb = lab.select(F.col("doc_id").alias("b"), F.col("lbl").alias("cb"))
        return (
            e.join(la, "a").join(lb, "b").filter(F.col("ca") != F.col("cb"))
        )

    with state_sized_shuffle(spark, edges.count()):
        # dedup_cluster_cc's barrier discipline: LAZY checkpoints, one
        # materializing action per round (the chosen count) — eager
        # checkpoints were measured 2-3x slower (pure job floor).
        mst_parts: list[DataFrame] = []
        done = False
        for _ in range(boruvka_rounds):
            live = relabel(edges, labels).localCheckpoint(eager=False)
            cand_struct = F.struct("w_permille", "a", "b", "ca", "cb")
            oe = live.select(F.col("ca").alias("comp"), cand_struct.alias("e")).unionByName(
                live.select(F.col("cb").alias("comp"), cand_struct.alias("e"))
            )
            pick = (
                oe.groupBy("comp")
                .agg(F.min("e").alias("m"))
                .select("comp", "m.*")
                .localCheckpoint(eager=False)
            )
            if pick.count() == 0:
                done = True
                break
            mst_parts.append(pick.select("a", "b", "w_permille").distinct())
            roots = ptr_contract(pick)
            labels = (
                labels.join(roots, "lbl", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("_root"), F.col("lbl")).alias("lbl"),
                )
                .localCheckpoint(eager=False)
            )
            # shrink the working set to the surviving cross-component
            # edges (stale labels are re-filtered next round); live is
            # already materialized through chosen's count
            edges = live.select("a", "b", "w_permille")

        if not done:
            # CROSSOVER: the remaining live components are near-dup
            # clusters, whose size the dedup family's semantics bound —
            # contract by the current labels (one star fixpoint over
            # the residual component graph) and finish each contracted
            # group with EXACT Kruskal in an Arrow-grouped stage. The
            # (w, a, b) total order makes the per-group result the
            # unique MSF restricted to that group, so hybrid depth is
            # output-invariant (forced-rounds law test).
            # r20: LAZY checkpoint + probe — the probe's limit(1)
            # action materializes the (state-width, single-partition
            # at bench scale) checkpoint inside the width context just
            # like the old eager form, one job instead of two; an
            # empty residual (the rounds=3 common case) pays only the
            # probe.
            live = relabel(edges, labels).localCheckpoint(eager=False)
            if live.limit(1).count() > 0:
                groups = star_fixpoint(
                    live.select(
                        F.least("ca", "cb").alias("u"),
                        F.greatest("ca", "cb").alias("v"),
                    ).distinct()
                ).select(F.col("v").alias("ca"), F.col("u").alias("_root"))
                e2 = live.join(groups, "ca", "left").select(
                    F.coalesce(F.col("_root"), F.col("ca")).alias("root"),
                    "a", "b", "w_permille", "ca", "cb",
                )
                # r14 width rule: Python-compute grouped stage carries
                # an explicit-width repartition (replaces the grouped
                # exchange; AQE may not coalesce it)
                width = int(spark.conf.get("spark.sql.shuffle.partitions"))
                tail = (
                    e2.repartition(width, "root")
                    .groupBy("root")
                    .applyInPandas(
                        _kruskal_group,
                        schema="a long, b long, w_permille long",
                    )
                )
                mst_parts.append(tail)

    out = mst_parts[0] if mst_parts else edges.limit(0)
    for part in mst_parts[1:]:
        out = out.unionByName(part)
    return out.select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "w_permille"
    )


def _kruskal_group(pdf):
    """Exact Kruskal over ONE contracted component group (bounded by
    the near-dup cluster size): vertices are the current Borůvka
    component labels, edge order is the same lexicographic
    (w_permille, a, b) the distributed rounds use."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    acc_a, acc_b, acc_w = [], [], []
    rows = sorted(
        zip(
            pdf["w_permille"].astype("int64"),
            pdf["a"].astype("int64"),
            pdf["b"].astype("int64"),
            pdf["ca"].astype("int64"),
            pdf["cb"].astype("int64"),
        )
    )
    for w, a, b, ca, cb in rows:
        ra, rb = find(int(ca)), find(int(cb))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            acc_a.append(int(a))
            acc_b.append(int(b))
            acc_w.append(int(w))
    return pd.DataFrame({"a": acc_a, "b": acc_b, "w_permille": acc_w})
