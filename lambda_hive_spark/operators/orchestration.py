"""Orchestration-depth operators (SURVEY.md §2.11 extension): the
reference's own category is `workflow-orchestrator` (BASELINE.json:6),
so beyond the thin DAG runner (orchestrator.py, graded via
orchestrate_dag/orchestrate_schedule) this module covers the three
behaviors every production scheduler is actually judged on:

- incremental skip-if-fresh rebuilds (dbt-style): a node whose inputs
  have not changed is NOT recomputed — at 100 TB the difference
  between a nightly pipeline that reruns everything and one that
  touches only changed partitions;
- transient-failure retry with idempotent sinks: attempt 1 dies
  mid-write, the retry's overwrite-mode commit replaces the partial
  output — exactly-once OUTPUT from at-least-once EXECUTION;
- checkpoint/resume: a failed downstream does not force upstream
  recomputation on the next run, because upstream results are
  materialized with freshness stamps.

Each op RUNS the scenario end-to-end in-process and self-asserts the
orchestration counters (builds, attempts, skips) before returning the
materialized result WITH those counters as literal columns — so the
DuckDB oracle checks both the data product and the orchestration
contract (a skip that silently recomputed, or a retry that duplicated
rows, hash-mismatches).

Scale notes: the orchestration layer sequences whole Spark jobs; all
data movement stays in the jobs themselves (declarative plans, Catalyst
owns them). Freshness stamps are (size, mtime) fingerprints of the
input files — metadata-only, no data scan, the same contract a real
scheduler gets from a lake table's commit version (lakehouse.py keeps
the transactional variant).

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark.helpers import dsum, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.orchestrator import Dag
from lambda_hive_spark.registry import op
from lambda_hive_spark.scratch import clear_scratch, mark_scratch_fresh, named as _scratch, scratch_stale

# Each op invocation clears its node dir + stamp up front
# (clear_scratch) so it demonstrates the full build→skip cycle
# deterministically — a leftover stamp from a prior invocation would
# make run 1 a skip and fail the self-assertion. Hence the consumer
# contract in lambda_hive_spark/scratch.py: collect before re-invoking.


@op(
    "orchestrate_incremental",
    tags=("side_effect",),
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {sql_dsum("l_extendedprice")} AS sum_price,
       CAST(1 AS BIGINT) AS n_builds,
       CAST(2 AS BIGINT) AS n_requests
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def orchestrate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-if-fresh incremental node: the same materialization is
    requested twice; the first request builds (input fingerprint
    recorded AFTER the successful write — a build that dies midway
    leaves no stamp and is retried), the second request sees an
    unchanged fingerprint and skips. The op self-asserts builds == 1
    over 2 requests and emits both counters as oracle-checked columns.
    At 100 TB the fingerprint check is metadata-only (size+mtime of
    inputs; the lake layer's commit version is the transactional
    twin) — the skipped rerun costs zero scan."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = _scratch(f"orch_incr_{sf_tag}")
    fixture = os.path.join(sf_dir, "lineitem.parquet")
    clear_scratch(out)

    builds = 0
    for _request in range(2):
        if scratch_stale(out, fixture):
            li = table(spark, sf_dir, "lineitem")
            (
                li.groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    dsum("l_extendedprice").alias("sum_price"),
                )
                .write.mode("overwrite")
                .parquet(out)
            )
            mark_scratch_fresh(out, fixture)
            builds += 1
    if builds != 1:
        raise RuntimeError(f"incremental contract broken: builds={builds}, want 1")
    return spark.read.parquet(out).select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "sum_price",
        F.lit(builds).cast("long").alias("n_builds"),
        F.lit(2).cast("long").alias("n_requests"),
    )


@op(
    "orchestrate_retry_idempotent",
    tags=("side_effect",),
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_price,
       CAST(2 AS BIGINT) AS n_attempts
FROM orders GROUP BY o_orderstatus
""",
)
def orchestrate_retry_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transient-failure retry with an idempotent sink: attempt 1
    writes a PARTIAL, WRONG output (one status group only — the
    classic half-finished job) and then dies; the DAG runner's retry
    reruns the job, whose overwrite-mode write REPLACES the partial
    output atomically. The oracle hash-checks that the final table
    contains exactly one complete copy of every group — a retry that
    appended instead of overwriting (the at-least-once duplication
    bug) doubles counts and hash-mismatches; a retry that never
    happened leaves the partial table and also mismatches. n_attempts
    is asserted == 2 and emitted as an oracle-checked column."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = _scratch(f"orch_retry_{sf_tag}")
    clear_scratch(out)

    state = {"attempt": 0}

    def load(s: SparkSession) -> None:
        state["attempt"] += 1
        o = table(s, sf_dir, "orders")
        full = o.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        if state["attempt"] == 1:
            # die mid-job, leaving a committed-but-partial output
            full.limit(1).write.mode("overwrite").parquet(out)
            raise RuntimeError("transient executor loss (simulated)")
        full.write.mode("overwrite").parquet(out)

    dag = Dag().add("load", load, retries=1)
    run = dag.run(spark)
    if run.failed:
        raise next(iter(run.failed.values()))
    if run.attempts["load"] != 2:
        raise RuntimeError(f"retry contract broken: attempts={run.attempts['load']}")
    return spark.read.parquet(out).select(
        "o_orderstatus",
        "n_orders",
        "total_price",
        F.lit(run.attempts["load"]).cast("long").alias("n_attempts"),
    )


@op(
    "orchestrate_resume_checkpoint",
    tags=("side_effect",),
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_price,
       CAST(1 AS BIGINT) AS upstream_builds,
       CAST(2 AS BIGINT) AS dag_runs
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def orchestrate_resume_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume across DAG runs: run 1 materializes the
    expensive upstream (orders×customer join, stamped fresh) and then
    fails downstream; run 2 resumes — the upstream node sees its
    fresh checkpoint and SKIPS (build counter stays 1), only the
    downstream aggregation runs. The op self-asserts exactly one
    upstream build across both runs and emits the counters as
    oracle-checked columns. This is the property that makes a 12-hour
    pipeline restartable at hour 11 instead of hour 0; the lake
    layer's commit log provides the transactional version of the same
    stamp."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    ckpt = _scratch(f"orch_resume_{sf_tag}")
    fixtures = (
        os.path.join(sf_dir, "orders.parquet"),
        os.path.join(sf_dir, "customer.parquet"),
    )
    clear_scratch(ckpt)

    state = {"upstream_builds": 0, "fail_downstream": True}

    def upstream(s: SparkSession) -> str:
        if scratch_stale(ckpt, *fixtures):
            o = table(s, sf_dir, "orders")
            c = table(s, sf_dir, "customer")
            (
                o.join(c, o.o_custkey == c.c_custkey)
                .select("c_mktsegment", "o_totalprice")
                .write.mode("overwrite")
                .parquet(ckpt)
            )
            mark_scratch_fresh(ckpt, *fixtures)
            state["upstream_builds"] += 1
        return ckpt

    def downstream(s: SparkSession, deps: dict) -> DataFrame:
        if state["fail_downstream"]:
            raise RuntimeError("downstream OOM (simulated, run 1 only)")
        return (
            s.read.parquet(deps["upstream"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice").alias("total_price"),
            )
        )

    dag = (
        Dag()
        .add("upstream", upstream)
        .add("downstream", downstream, deps=("upstream",))
    )
    run1 = dag.run(spark)
    if "upstream" in run1.failed:
        # a REAL upstream failure (not the staged downstream one) must
        # surface itself, not a misleading scenario-contract error
        raise run1.failed["upstream"]
    if "downstream" not in run1.failed:
        raise RuntimeError("run 1 should have failed downstream")

    state["fail_downstream"] = False
    run2 = dag.run(spark)
    if run2.failed:
        raise next(iter(run2.failed.values()))
    if state["upstream_builds"] != 1:
        raise RuntimeError(
            f"resume contract broken: upstream_builds={state['upstream_builds']}, want 1"
        )
    return run2.results["downstream"].select(
        "c_mktsegment",
        "n_orders",
        "total_price",
        F.lit(state["upstream_builds"]).cast("long").alias("upstream_builds"),
        F.lit(2).cast("long").alias("dag_runs"),
    )
