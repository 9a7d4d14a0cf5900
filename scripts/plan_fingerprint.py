#!/usr/bin/env python
"""Plan fingerprints: hash every optimized plan a registered query builds.

Per id, the query is built with ``DataFrame.localCheckpoint`` wrapped so
that the optimized plan of every checkpointed frame is recorded, then the
returned frame's optimized plan is recorded too. Each plan is normalized
(expression ids, lambda-variable ids, RDD ids and temp paths carry no
meaning across sessions) and hashed, and so is the id's DuckDB oracle
string; the normalized plan texts are kept next to their hashes. Two
trees whose fingerprints match build the same plans and the same
oracles, so a refactor that claims "no plan moved" can be checked with
one command instead of re-verifying every id, and a changed plan shows
where it changed.

Usage:
  python scripts/plan_fingerprint.py [--sf DIR] [--out FILE] [qid ...]
  python scripts/plan_fingerprint.py --diff A.json B.json

With no ids, every registered id except the ETL and streaming ones
(``etl_*``, ``ext_stream_*``) is fingerprinted, in registry order, in
one session. ``--sf`` defaults to the test suite's sf0.001 directory
($SPARK_GRAFT_TEST_SF_DIR, as in tests/conftest.py). ``--diff`` prints
"N of M ids changed" and the ids whose plan hashes differ (or that
exist in only one file), each followed by the first differing line of
its first differing plan, then "N of M oracle strings changed" and
those ids.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import tempfile
from itertools import zip_longest

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

_EXCLUDED_PREFIXES = ("etl_", "ext_stream_")

_NORMALIZE = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),  # PySpark lambda variables
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\[\d+\] at "), "[] at "),  # RDD ids in RDD names
]


def normalize(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    tmp = tempfile.gettempdir()
    for base in {tmp, os.path.realpath(tmp)}:  # scratch and sink paths
        plan = re.sub(rf"(file:)?{re.escape(base)}/[^\s,\])]*", "<tmp>", plan)
    return plan


def _plan_text(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def fingerprint(spark, sf_dir: str, qids: list[str]) -> dict:
    from pyspark.sql.classic.dataframe import DataFrame

    from duckdb_data_eng_proj_spark.queries import REGISTRY

    seen: list[str] = []  # normalized plan of each checkpointed frame
    original = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        seen.append(normalize(_plan_text(self)))
        return original(self, *args, **kwargs)

    # print every field of a node (the default truncates at 25)
    spark.conf.set("spark.sql.debug.maxToStringFields", 1_000_000)
    out: dict = {}
    DataFrame.localCheckpoint = recording
    try:
        for qid in qids:
            seen.clear()
            try:
                result = normalize(_plan_text(REGISTRY[qid].fn(spark, sf_dir)))
                out[qid] = {
                    "checkpoints": [_sha(p) for p in seen],
                    "result": _sha(result),
                    "plans": [*seen, result],
                }
            except Exception as e:  # noqa: BLE001 - recorded, not raised
                out[qid] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            oracle = REGISTRY[qid].oracle
            out[qid]["oracle"] = oracle and _sha(oracle)
            print(f"{qid}: {out[qid].get('result', out[qid].get('error'))}", flush=True)
    finally:
        DataFrame.localCheckpoint = original
    return out


def diff(a: dict, b: dict, oracle: bool = False) -> list[str]:
    """Ids whose plan hashes (or, with ``oracle``, oracle-string hashes)
    differ between two fingerprint files, or that exist in only one."""

    def part(fp: dict | None) -> dict | None:
        if fp is None:
            return None
        if oracle:
            return {"oracle": fp.get("oracle")}
        return {k: v for k, v in fp.items() if k not in ("oracle", "plans")}

    return sorted(
        q for q in set(a) | set(b) if part(a.get(q)) != part(b.get(q))
    )


def first_change(a: dict | None, b: dict | None) -> str:
    """Where one id's plans first differ: the plan's position (its
    checkpoints in call order, then the result) and the first differing
    line of each side, cut to the stretch around the first differing
    character."""
    if a is None or b is None:
        return "only in " + ("B" if a is None else "A")
    if "error" in a or "error" in b:
        return f"A: {a.get('error', 'ok')} | B: {b.get('error', 'ok')}"
    pa, pb = a.get("plans", []), b.get("plans", [])
    for i, (x, y) in enumerate(zip_longest(pa, pb, fillvalue="")):
        for la, lb in zip_longest(x.splitlines(), y.splitlines(), fillvalue=""):
            if la != lb:
                k = len(os.path.commonprefix([la, lb]))
                lo = max(0, k - 60)
                where = "result" if i == max(len(pa), len(pb)) - 1 else f"checkpoint {i}"
                return f"{where}:\n      A: {la[lo:k + 100]}\n      B: {lb[lo:k + 100]}"
    return "no plan text kept"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("qids", nargs="*")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("--out", default="plan_fingerprints.json")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()

    if args.diff:
        with open(args.diff[0]) as fa, open(args.diff[1]) as fb:
            a, b = json.load(fa), json.load(fb)
        n = len(set(a) | set(b))
        for label, oracle in (("ids", False), ("oracle strings", True)):
            changed = diff(a, b, oracle)
            print(f"{len(changed)} of {n} {label} changed")
            for q in changed:
                print(f"  {q}" + ("" if oracle else f"  {first_change(a.get(q), b.get(q))}"))
        return

    from duckdb_data_eng_proj_spark.queries import REGISTRY
    from duckdb_data_eng_proj_spark.session import get_spark

    qids = args.qids or [
        q for q in REGISTRY if not q.startswith(_EXCLUDED_PREFIXES)
    ]
    spark = get_spark("plan_fingerprint")
    out = fingerprint(spark, args.sf, qids)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    errors = sum("error" in v for v in out.values())
    print(f"wrote {len(out)} fingerprints ({errors} errors) to {args.out}")


if __name__ == "__main__":
    main()
