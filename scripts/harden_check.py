"""Hardening re-verify: run a subset of queries under a DELIBERATELY
hostile Spark config (7 shuffle partitions, AQE off, local[7]) and
hash-compare against the DuckDB oracles — catches partition-count and
adaptive-plan dependence that the standard local[32]/AQE-on gate hides.

Usage: python scripts/harden_check.py [q-prefix,list] [sf_dir]
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from hoops_edge_database_etl_spark.oracle_contract import norm_cell  # noqa: E402
from hoops_edge_database_etl_spark.tables import TABLES  # noqa: E402

prefixes = tuple(sys.argv[1].split(",")) if len(sys.argv) > 1 else ("q",)
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

spark = (
    SparkSession.builder.master("local[7]")
    .config("spark.sql.shuffle.partitions", "7")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .appName("harden-check")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )

qs, oracles = mod.queries(), mod.oracle_sql()
fails = []
for name in [n for n in qs if n.startswith(prefixes)]:
    sdf = qs[name](spark, SF)
    cols = sorted(sdf.columns)
    srows = sorted(str(tuple(norm_cell(r[c]) for c in cols)) for r in sdf.collect())
    if name not in oracles:
        print(f"ROWS-ONLY {name} ({len(srows)} rows)", flush=True)
        continue
    cur = con.execute(oracles[name])
    ocols = [d[0] for d in cur.description]
    idx = [ocols.index(c) for c in sorted(ocols)]
    orows = sorted(
        str(tuple(norm_cell(rec[i]) for i in idx)) for rec in cur.fetchall()
    )
    ok = cols == sorted(ocols) and srows == orows
    print(("MATCH" if ok else "FAIL") + f" {name} ({len(srows)} rows)", flush=True)
    if not ok:
        fails.append(name)
spark.stop()
if fails:
    sys.exit(f"hardening failures: {fails}")
print("all green under partitions=7 / AQE-off")
