"""Full driver mimic: every queries() entry vs oracle at sf0.01, timed."""
import os, sys, time
# the tree this script sits in, not an installed or fixed-path copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())

import __spark_entry__ as E

qs, osql = E.queries(), E.oracle_sql()
print(f"queries={len(qs)} oracles={len(osql)} order={list(qs)[:5]}...")

import datetime as dt, decimal, math
import duckdb
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if v is None: return "∅"
    if isinstance(v, bool): return "t" if v else "f"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal): return f"{v:f}"
    if isinstance(v, dt.datetime): return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date): return v.isoformat()
    if isinstance(v, (list, tuple)): return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)

def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)

results = []
only = sys.argv[1:] or list(qs)
for qid in only:
    fn = qs[qid]
    t0 = time.time()
    try:
        df = fn(spark, SF)
        srows = df.collect(); scols = df.columns
        ts = time.time() - t0
    except Exception as e:
        print(f"SPARK-ERR {qid}: {type(e).__name__}: {str(e)[:200]}")
        results.append((qid, 999.0, 0.0, "SPARK-ERR")); continue
    t1 = time.time()
    status = "rows-only"
    if qid in osql:
        try:
            cur = con.execute(osql[qid])
            dcols = [d[0] for d in cur.description]; drows = cur.fetchall()
            if len(srows) != len(drows): status = f"ROWS {len(srows)}!={len(drows)}"
            elif sorted(scols) != sorted(dcols): status = f"COLS {scols}!={dcols}"
            elif normalize([tuple(r) for r in srows], scols) != normalize(drows, dcols):
                status = "VALUES-DIFF"
            else: status = "match"
        except Exception as e:
            status = f"ORACLE-ERR {type(e).__name__}: {str(e)[:120]}"
    td = time.time() - t1
    results.append((qid, ts, td, status))
    flag = "" if status in ("match", "rows-only") else "  <<<<"
    print(f"{qid:28s} spark={ts:6.2f}s duck={td:6.2f}s rows={len(srows):7d} {status}{flag}")

tot_s = sum(r[1] for r in results); tot_d = sum(r[2] for r in results)
print(f"\nTOTAL spark={tot_s:.1f}s duck={tot_d:.1f}s")
print("slowest:", sorted(results, key=lambda r: -r[1])[:10])
bad = [r for r in results if r[3] not in ("match", "rows-only")]
print(f"bad={len(bad)}: {[r[0] for r in bad]}")
