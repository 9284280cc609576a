"""Driver-contract simulator: runs every __spark_entry__ query at
sf0.01 under a default (ANSI, host-TZ) session and compares against
the DuckDB oracle with the conftest type-strict normalizer.
Usage: TZ=America/New_York python tools/driversim.py [only_prefix...|@firstN]"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import duckdb

import __spark_entry__ as e
from tests.conftest import _norm

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"/root/testdata/sf0.01/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")


qs, osql = e.queries(), e.oracle_sql()
names = list(qs)
if len(sys.argv) > 1:
    sel = []
    for a in sys.argv[1:]:
        if a.startswith("@first"):
            sel += names[: int(a[6:])]
        else:
            sel += [n for n in names if n == a or n.startswith(a.rstrip("*"))]
    names = list(dict.fromkeys(sel))
bad = 0
for name in names:
    try:
        sdf = qs[name](spark, "/root/testdata/sf0.01")
        cols = sorted(sdf.columns)
        srows = sorted(
            (tuple(_norm(r[c]) for c in cols) for r in sdf.collect()),
            key=repr,
        )
        if name not in osql:
            print(name, "rows-only:", len(srows), flush=True)
            continue
        cur = con.execute(osql[name])
        dcols = [d[0] for d in cur.description]
        idx = [dcols.index(c) for c in cols]
        drows = sorted(
            (tuple(_norm(row[i]) for i in idx) for row in cur.fetchall()),
            key=repr,
        )
        ok = srows == drows
        if not ok:
            bad += 1
            only_s = [r for r in srows if r not in drows][:2]
            only_d = [r for r in drows if r not in srows][:2]
            print(name, "rows", len(srows), "oracle", len(drows),
                  "MISMATCH\n  spark-only:", only_s,
                  "\n  duck-only:", only_d, flush=True)
        else:
            print(name, "rows", len(srows), "match: True", flush=True)
    except Exception as ex:  # noqa: BLE001
        bad += 1
        print(name, "ERROR", f"{type(ex).__name__}: {ex}"[:300], flush=True)
print("TOTAL", len(names), "BAD", bad)
print("entry rows:", e.entry(spark).count())
spark.stop()
