"""Simulate the external driver's correctness gate in-process:
t1 smoke on entry(spark), then every queries()[name] vs oracle_sql()[name]
via DuckDB at the given sf dir.
Usage: python tools/verify_driver.py [sf_dir] [op_name ...]
(op names restrict the run to that subset — fast iteration loop)."""
import itertools
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
import __spark_entry__ as e
from lambda_hive_spark.scratch import named
from lambda_hive_spark.testing import duck_connection
from pyspark.sql import SparkSession

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

_builder = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
)
_tz = os.environ.get("SPARK_GRAFT_VERIFY_TZ")
if _tz:  # hostile-driver-session probe: ops must pin UTC themselves
    _builder = _builder.config("spark.sql.session.timeZone", _tz)
spark = _builder.getOrCreate()
assert len(e.entry(spark).collect()) > 0  # t1
con = duck_connection(SF)
qs, os_ = e.queries(), e.oracle_sql()
if ONLY:
    qs = {n: f for n, f in qs.items() if n in ONLY}
bad = []
for name, fn in sorted(qs.items()):  # t2
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as ex:
        bad.append(f"{name} (spark error: {ex})")
        continue
    if name not in os_:
        continue
    ddf = con.execute(os_[name]).fetchdf()
    cols = sorted(sdf.columns)
    s = sorted(map(str, sdf[cols].itertuples(index=False, name=None)))
    d = sorted(map(str, ddf[sorted(ddf.columns)].itertuples(index=False, name=None)))
    if cols != sorted(ddf.columns) or s != d:
        bad.append(name)
        # post-mortem dump: first differing rows from each side
        dump = named(f"verify_mismatch_{name}.txt")
        print(f"{name}: mismatch dump at {dump}")
        with open(dump, "w") as fh:
            fh.write(f"spark cols {cols}\nduck cols {sorted(ddf.columns)}\n")
            fh.write(f"spark rows {len(s)} duck rows {len(d)}\n")
            ds, dd = set(d), set(s)
            for r in itertools.islice((r for r in s if r not in ds), 20):
                fh.write(f"S {r}\n")
            for r in itertools.islice((r for r in d if r not in dd), 20):
                fh.write(f"D {r}\n")
print("MISMATCH:", bad) if bad else print("ALL MATCH", len(qs))
spark.stop()
