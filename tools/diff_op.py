"""Print the first differing rows between an op's Spark output and its
DuckDB oracle at a given sf dir — triage companion to verify_driver.

Usage: python tools/diff_op.py <sf_dir> <op> [max_rows]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

import __spark_entry__ as e
from pyspark.sql import SparkSession

SF, NAME = sys.argv[1], sys.argv[2]
MAX = int(sys.argv[3]) if len(sys.argv) > 3 else 10

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

sdf = e.queries()[NAME](spark, SF).toPandas()
ddf = con.execute(e.oracle_sql()[NAME]).fetchdf()
cols = sorted(sdf.columns)
print("spark cols:", sorted(sdf.columns), "| duck cols:", sorted(ddf.columns))
s = sorted(map(str, sdf[cols].itertuples(index=False, name=None)))
d = sorted(map(str, ddf[sorted(ddf.columns)].itertuples(index=False, name=None)))
print(f"spark rows: {len(s)}  duck rows: {len(d)}")
only_s = [r for r in s if r not in set(d)]
only_d = [r for r in d if r not in set(s)]
print(f"-- only in spark ({len(only_s)}):")
for r in only_s[:MAX]:
    print("  S", r[:200])
print(f"-- only in duck ({len(only_d)}):")
for r in only_d[:MAX]:
    print("  D", r[:200])
spark.stop()
