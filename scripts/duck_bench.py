"""Time the BENCH oracle queries on DuckDB (warm-up lap, then best-of-3).

Same protocol as bench.py: one untimed warm-up execution of every
query, then best-of-3 timed — so neither engine pays first-execution
compilation/caching inside its timed window. Each timing runs from SQL
text to fetched result (parse, plan, execute), as bench.py times each
Spark query from fn() to the forced result.

Usage: python scripts/duck_bench.py [SF_DIR]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

from bench import BENCH_QUERIES
from duckdb_data_eng_proj_spark.queries import REGISTRY

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
con.execute("SELECT count(*) FROM lineitem").fetchall()  # warm

for qid in BENCH_QUERIES:  # warm-up lap (see bench.py)
    con.execute(REGISTRY[qid].oracle).fetchall()

out = {}
for qid in BENCH_QUERIES:
    sql = REGISTRY[qid].oracle
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        best = min(best, time.perf_counter() - t0)
    out[qid] = round(best, 4)
print(json.dumps({"total": round(sum(out.values()), 4), "queries": out}))
