"""SparkSession factory with scale-aware defaults.

Settings rationale (SURVEY.md §4, §6):
- UTC session timezone: required for DuckDB-oracle parity on
  `date_trunc`/`year` over the timestamp[ms]/timestamp[ns] fixture
  columns (SURVEY.md §5.1 rule 3).
- AQE on (Spark 4 default) so skew-join split / partition coalescing
  re-plan at runtime — the 100 TB story relies on it.
- `spark.sql.shuffle.partitions` defaults to the local core count via
  env `SPARK_GRAFT_CPUS`; on a real cluster this would be ~2-3x total
  executor cores (AQE coalesces down, so err high).
- Arrow enabled: every Python<->JVM hop (toPandas, pandas_udf,
  applyInPandas) is Arrow-batched, never row-at-a-time pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# InferFiltersFromGenerate rewrites `explode(expr)` into
# `Filter(size(expr) > 0 AND isnotnull(expr)) + Generate(expr)` — and the
# filter (pushed all the way into the scan) re-evaluates the FULL
# generator expression per row, twice. For stored array columns that is
# a cheap early prune; for COMPUTED arrays (shingling, pair expansion —
# interpreted higher-order functions) it triples the hot-loop work:
# measured 2.98 s → 0.4 s on the sf0.1 shingle explode alone. Explode
# itself already skips empty/null arrays, so excluding the rule never
# changes results — it only removes the redundant re-evaluation.
_EXCLUDED_OPT_RULES = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

# Default 10 MB broadcast threshold is sized for ~1 GB executors; at the
# 4-32 GB executors a 100 TB deployment runs, 64 MB is the conventional
# setting — mid-size filtered dimensions (e.g. half of orders projected
# to two columns) broadcast instead of shuffling the 40× bigger fact.
# Genuinely-at-scale fact-fact joins exceed any threshold and still
# plan sort-merge; ops that must demonstrate SMJ pin it via
# hint("merge") or a scoped conf, so nothing flips plans by accident.
_BROADCAST_THRESHOLD = str(64 * 1024 * 1024)

# AQE SMJ→SHJ conversion: when a join's per-partition build side is
# under this threshold at runtime, plan a shuffled hash join instead of
# sort-merge — same shuffle, but neither side gets sorted (the sorts
# were ~2/3 of join_multiway's wall at the 100× bench corpus: 4.2 s →
# measured with SHJ below). This is the partition-LOCAL sizing knob, so
# it is exactly as safe at 100 TB as it is here: a 256 MB per-partition
# build fits any sanely-sized executor, and a genuinely huge build side
# (over threshold after AQE sees real sizes) still gets SMJ. Joins that
# must demonstrate SMJ pin it with hint("merge").
_SHJ_LOCAL_MAP_THRESHOLD = str(256 * 1024 * 1024)


# Runtime-settable parity/perf confs: the builder sets them on a
# session we create, tune_runtime on one the driver hands us.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules": _EXCLUDED_OPT_RULES,
    "spark.sql.autoBroadcastJoinThreshold": _BROADCAST_THRESHOLD,
    "spark.sql.adaptive.autoBroadcastJoinThreshold": _BROADCAST_THRESHOLD,
    "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold": _SHJ_LOCAL_MAP_THRESHOLD,
}


def get_spark(app_name: str = "lambda_hive_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=_RUNTIME_CONFS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply the runtime confs to a session we did not create (the
    driver hands us its own session in `__spark_entry__`)."""
    for key, value in _RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    return spark
