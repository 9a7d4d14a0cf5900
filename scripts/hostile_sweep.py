#!/usr/bin/env python
"""Hostile-vintage sweep: every registry op cross-engine on adversarial data.

The driver oracle certifies only the GENERATED vintage; the per-class
fixture laws (tests/test_r16_laws.py / test_r17_laws.py) certify named
divergence classes. This script is the blunt instrument between the
two: it derives a HOSTILE copy of sf0.001 — NULL ts/value slices,
malformed JSON props, blank/whitespace/punctuation-only text, NULL
lang/price/status/date, a zero-norm and a short (32-dim) embedding —
and runs ALL registry ops through Spark AND DuckDB on it, reporting
every mismatch, one-sided error, or both-sided error.

r17 first run: 23/283 ids split; by end of session ALL 283 match on
this vintage. The fixes, in class order: the pair-cosine least()
prefix rule + vectors.dot common-prefix fold (zip_with NULL-pads),
the fixed-dim 64 contract across kmeans/IVF/drift/centroid-label/
binary-quantize, sessionize/markov/sequence/autocorr NULL-ts
exclusion, ewma/holt/udf_surface NULL-value exclusion, the
fingerprint/fuzzy-key NULL rule, json_valid guards, the degenerate-
variance NULL rules, the flagship's NULL-safe join-back (a DuckDB
window over a derived-NULL partition key read NONDETERMINISTIC sums
— engine-level, dodged rather than fixed), argminmax NULL-price
exclusion, dedup_exact's NULLS-LAST keep-first sentinel, and the
stateful stream fn mirroring SQL SUM on NULL values.

Shared session: the sweep reuses ONE SparkSession across all ops. No
op's build changes a session conf (the events reader's
``nanosAsLong`` is a ``get_spark`` builder config, and
tests/test_oracle_parity.py asserts the conf per id), so results do
not depend on enumeration order; `--reverse` / `--seed N` reorder the
enumeration to show exactly that.

Usage: python scripts/hostile_sweep.py [--reverse | --seed N] [qid ...]
Writes /tmp/hostile_results.json and prints a summary.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from duckdb_data_eng_proj_spark.queries import REGISTRY
from duckdb_data_eng_proj_spark.session import get_spark

SRC = "/root/testdata/sf0.001"
DST = "/tmp/hostile_vintage"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def build_vintage() -> None:
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST)
    for f in os.listdir(SRC):
        shutil.copy(os.path.join(SRC, f), DST)
    con = duckdb.connect()
    con.execute(f"""
    COPY (
      SELECT event_id,
             CASE WHEN event_id % 53 = 0 THEN NULL ELSE ts END AS ts,
             user_id, event_type,
             CASE WHEN event_id % 53 = 1 THEN NULL ELSE value END AS value,
             CASE WHEN event_id % 53 = 2 THEN '{{not json' ELSE props END AS props
      FROM read_parquet('{SRC}/events.parquet')
    ) TO '{DST}/events.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT doc_id,
             CASE WHEN doc_id % 67 = 0 THEN '' WHEN doc_id % 67 = 1 THEN '   '
                  WHEN doc_id % 67 = 2 THEN '!!! ...' ELSE text END AS text,
             CASE WHEN doc_id % 71 = 0 THEN NULL ELSE lang END AS lang,
             source, n_chars
      FROM read_parquet('{SRC}/documents.parquet')
    ) TO '{DST}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 97 = 1 THEN NULL ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 97 = 2 THEN NULL ELSE o_orderdate END AS o_orderdate,
             o_orderpriority
      FROM read_parquet('{SRC}/orders.parquet')
    ) TO '{DST}/orders.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT vec_id,
             CASE WHEN vec_id = 3 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
                  WHEN vec_id = 21 THEN embedding[1:32]
                  ELSE embedding END AS embedding,
             label
      FROM read_parquet('{SRC}/embeddings.parquet')
    ) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.close()


def _norm(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else "%.9g" % v)
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> None:
    build_vintage()
    argv = sys.argv[1:]
    reverse = "--reverse" in argv
    seed = None
    if "--seed" in argv:
        i = argv.index("--seed")
        seed = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    only = {a for a in argv if not a.startswith("--")}
    spark = get_spark(
        app_name="hostile", input_bytes=10**6, latency_profile=True
    )
    spark.sparkContext.setLogLevel("ERROR")
    order = list(REGISTRY.items())
    if reverse:
        order.reverse()
    elif seed is not None:
        import random

        random.Random(seed).shuffle(order)
    results = {}
    for qid, spec in order:
        if only and qid not in only:
            continue
        try:
            sdf = spec.fn(spark, DST)
            got = _norm(
                tuple(r[c] for c in sorted(sdf.columns)) for r in sdf.collect()
            )
            serr = None
        except Exception as ex:  # noqa: BLE001 — sweep must survive
            got, serr = None, f"{type(ex).__name__}: {str(ex)[:110]}"
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{DST}/{t}.parquet')"
            )
        try:
            cur = con.execute(spec.oracle)
            cols = [x[0] for x in cur.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            want = _norm(tuple(r[i] for i in order) for r in cur.fetchall())
            derr = None
        except Exception as ex:  # noqa: BLE001
            want, derr = None, f"{type(ex).__name__}: {str(ex)[:110]}"
        con.close()
        if serr or derr:
            status = (
                "BOTH-ERR" if (serr and derr)
                else ("SPARK-ERR" if serr else "DUCK-ERR")
            )
            results[qid] = (status, serr or derr)
        elif got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:2]
            results[qid] = (
                "DIVERGE",
                f"{len(got)} vs {len(want)} rows; first diffs {diff}",
            )
        print(".", end="", flush=True)
    print()
    with open("/tmp/hostile_results.json", "w") as fh:
        json.dump({"results": results}, fh, indent=1)
    print(f"{len(results)} non-matching -> /tmp/hostile_results.json")
    for qid, (status, info) in sorted(results.items()):
        print(f"{qid:32s} {status:10s} {info[:110]}")


if __name__ == "__main__":
    main()
