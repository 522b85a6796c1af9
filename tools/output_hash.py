"""Stable output fingerprints for a set of ops at a given sf dir.

Used to PROVE that a null-robustness edit (a no-op on the null-free
grading corpus) left an op's output bit-identical there, which is the
evidence standard for re-stamping its GRADED.json fingerprint without
burning a driver grading slot (SURVEY §5: stale-evidence guard applies
to behavior changes, not provably-identical outputs).

Usage: python tools/output_hash.py <sf_dir> <out.json> [op ...]
Writes {op: {"spark": md5, "duck": md5}}.
"""
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from lambda_hive_spark.testing import duck_connection
from pyspark.sql import SparkSession

SF = sys.argv[1]
OUT = sys.argv[2]
ONLY = set(sys.argv[3:])

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
con = duck_connection(SF)

qs, os_ = e.queries(), e.oracle_sql()
result = {}
for name, fn in sorted(qs.items()):
    if ONLY and name not in ONLY:
        continue
    row = {}
    try:
        sdf = fn(spark, SF).toPandas()
        cols = sorted(sdf.columns)
        rows = sorted(map(str, sdf[cols].itertuples(index=False, name=None)))
        row["spark"] = hashlib.md5(("|".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()
    except Exception as ex:
        row["spark"] = f"ERROR: {ex}"[:200]
    if name in os_:
        try:
            ddf = con.execute(os_[name]).fetchdf()
            cols = sorted(ddf.columns)
            rows = sorted(map(str, ddf[cols].itertuples(index=False, name=None)))
            row["duck"] = hashlib.md5(("|".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()
        except Exception as ex:
            row["duck"] = f"ERROR: {ex}"[:200]
    result[name] = row

with open(OUT, "w") as f:
    json.dump(result, f, indent=1, sort_keys=True)
print(f"wrote {len(result)} fingerprints to {OUT}")
spark.stop()
