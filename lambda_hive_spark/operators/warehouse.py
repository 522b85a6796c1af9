"""Warehouse-maintenance operators (SURVEY.md §2.12, round 3): the
change-data-capture shapes every dimension pipeline needs — latest-
record-wins compaction, slowly-changing-dimension (type 2) history
build, and wide→long unpivot. Complements merge_upsert (extras.py),
which handles the write side; these are the read/derive side.

Timestamp rule: intervals and orderings use the MILLISECOND grid
(unix_millis / epoch_ms) — the common exact representation between
Spark's µs and the fixture's ns timestamps (parity rule 3c).

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lambda_hive_spark.helpers import dbl, dec, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op


@op(
    "cdc_latest_snapshot",
    oracle="""
WITH r AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id,
       event_type AS last_event_type, ms AS last_ms
FROM r WHERE rn = 1
""",
)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-wins compaction: collapse an append-only change
    log to one current row per key — the read-side half of CDC (the
    write-side is merge_upsert). row_number over (key ORDER BY ms DESC,
    event_id DESC) then rn=1: one shuffle on the key, and Spark 3.5+
    rewrites the rn=1 filter into WindowGroupLimit, so each partition
    keeps a single running max instead of sorting its whole group —
    exactly the 100 TB-safe plan. Tie-break on event_id makes the
    winner deterministic when two changes share a millisecond."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ms"), F.desc("event_id"))
    return (
        ev.select(
            "user_id", "event_id", "event_type", F.unix_millis("ts").alias("ms")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("ms").alias("last_ms"),
        )
    )


@op(
    "scd2_dimension",
    oracle="""
WITH o AS (
  SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts), event_id) AS prev_type
  FROM events
),
chg AS (
  SELECT user_id, event_type, ms, event_id FROM o
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, ms AS valid_from_ms,
       LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to_ms,
       LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL AS is_current
FROM chg
""",
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: compress a change log
    into [valid_from, valid_to) intervals per key, one row per distinct
    consecutive value run (here: a user's event_type standing in for a
    mutable dimension attribute). Two window passes over the SAME
    (user_id, ms, event_id) sort — Catalyst reuses one shuffle+sort for
    both lag (change detection) and lead (interval close), so the whole
    history build is a single exchange. Open intervals keep NULL
    valid_to_ms + is_current=true, the standard SCD2 convention."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    o = (
        ev.select(
            "user_id", "event_type", "event_id", F.unix_millis("ts").alias("ms")
        )
        .withColumn("prev_type", F.lag("event_type").over(w))
    )
    chg = o.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    lead_ms = F.lead("ms").over(w)
    return chg.select(
        "user_id",
        "event_type",
        F.col("ms").alias("valid_from_ms"),
        lead_ms.alias("valid_to_ms"),
        lead_ms.isNull().alias("is_current"),
    )


@op(
    "unpivot_long",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
FROM lineitem WHERE l_returnflag = 'R'
""",
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of the four lineitem measures — the
    inverse of agg_pivot. Spark's native `unpivot` is a single Expand
    node: ONE scan emitting 4 rows per input row, versus the oracle's 4
    UNION'd scans — at 100 TB that's a 4× scan saving. The returnflag
    filter is pushed below the Expand into the parquet scan."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@op(
    "mv_agg_merge",
    oracle=f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum("value")} AS total_value,
       {sql_dsum("value")} / COUNT(*) AS avg_value
FROM events GROUP BY user_id
""",
)
def mv_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: yesterday's
    per-user aggregate STATE (count + decimal-exact sum over events
    before the cutoff) is merged with today's DELTA (same partial over
    events after the cutoff) by RE-AGGREGATING THE PARTIALS — no
    rescan of history. avg is derived at read time from the mergeable
    (sum, count) pair; the oracle recomputes the view from scratch, so
    the gate proves merge(state, delta) == full recompute.

    This is the algebraic-aggregate IVM contract: SUM/COUNT/MIN/MAX
    merge; AVG/STDDEV derive from merged primitives; exact
    DISTINCT/percentiles do NOT (keep sketches instead —
    sketch_hll_rollup / sketch_approx_quantiles). Decimal sums make
    the merge bit-identical to the recompute at any split point.

    Scale: at 100 TB the state table is keys × 2 numbers — the daily
    update shuffles only the delta; history is never re-read. Both
    partials here share one plan shape, map-combined before their
    single shuffle each."""
    ev = table(spark, sf_dir, "events")
    cutoff = F.lit("2000-07-01 00:00:00").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("value")).alias("dsum"),
        )

    state = partial(ev.filter(F.col("ts") < cutoff))
    delta = partial(ev.filter(F.col("ts") >= cutoff))
    merged = (
        state.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("cnt").alias("n_events"), F.sum("dsum").alias("dsum"))
    )
    total = dbl(F.col("dsum"))
    return merged.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        total.alias("total_value"),
        (total / F.col("n_events")).alias("avg_value"),
    )


@op(
    "cdc_changes_diff",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 10 <> 7
),
v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 3
              THEN ROUND(o_totalprice * 1.1, 2) ELSE o_totalprice END
           AS o_totalprice
  FROM orders
  WHERE o_orderkey % 10 <> 4
),
diff AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE
           WHEN a.o_orderkey IS NULL THEN 'added'
           WHEN b.o_orderkey IS NULL THEN 'removed'
           WHEN a.o_totalprice <> b.o_totalprice
                OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
           ELSE 'unchanged'
         END AS change
  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
)
SELECT change, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM diff GROUP BY change
""",
)
def cdc_changes_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the change-data-capture primitive when the
    source system gives you full dumps, not a log: FULL OUTER join two
    versions on the business key and classify every row added /
    removed / changed / unchanged. Versions are carved
    deterministically from orders (v2 drops one decile, adds back
    another, reprices a third). Summarized per class so the output is
    audit-sized.

    Scale: one co-partitioned full-outer shuffle on the key — at
    100 TB both versions bucket/sort by the key so the diff is a
    zero-exchange sort-merge; the 10% price mutation keeps the
    'changed' class non-degenerate. The 2-decimal ×1.1 reprice needs
    scale-4 rounding agreement, which ROUND-to-2 on both engines
    satisfies (products of 2-decimal inputs are exact at 4 decimals;
    see helpers.py module doc)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 10 != 7)
    v2 = o.filter(F.col("o_orderkey") % 10 != 4).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 3, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    a, b = v1.alias("a"), v2.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
            change.alias("change"),
        )
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )


@op(
    "join_scd2_lookup",
    oracle="""
WITH o AS (
  SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts), event_id) AS prev_type
  FROM events
),
dim AS (
  SELECT user_id, event_type, ms AS valid_from_ms,
         LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to_ms
  FROM (SELECT user_id, event_type, ms, event_id FROM o
        WHERE prev_type IS NULL OR prev_type <> event_type)
),
probes AS (
  SELECT DISTINCT user_id,
         epoch_ms(CAST(ts AS DATE) + INTERVAL 12 HOUR) AS probe_ms
  FROM events
)
SELECT p.user_id, p.probe_ms, d.event_type AS active_type,
       d.valid_from_ms AS active_from_ms
FROM probes p JOIN dim d
  ON p.user_id = d.user_id
 AND d.valid_from_ms <= p.probe_ms
 AND (d.valid_to_ms IS NULL OR p.probe_ms < d.valid_to_ms)
""",
)
def join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against a type-2 history: for
    every (user, active-day-at-noon) probe, find the attribute version
    whose [valid_from, valid_to) interval covers the probe — the join
    every fact-to-SCD2 enrichment runs. The intervals per key are
    non-overlapping and few (runs of a mutable attribute), so the join
    is an ordinary equi-join on the key plus an interval predicate the
    executor evaluates per matched key — never a blind range
    cross-product. At 100 TB both sides shuffle once on user_id;
    skew follows the fact's key skew, same mitigation as any fact
    join (AQE skew split)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    o = ev.select(
        "user_id", "event_type", "event_id", F.unix_millis("ts").alias("ms")
    ).withColumn("prev_type", F.lag("event_type").over(w))
    chg = o.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    dim = chg.select(
        "user_id",
        "event_type",
        F.col("ms").alias("valid_from_ms"),
        F.lead("ms").over(w).alias("valid_to_ms"),
    )
    probes = ev.select(
        "user_id",
        F.unix_millis(
            (F.to_date("ts").cast("timestamp") + F.expr("INTERVAL 12 HOURS"))
        ).alias("probe_ms"),
    ).distinct()
    cond = (
        (probes.user_id == dim.user_id)
        & (dim.valid_from_ms <= probes.probe_ms)
        & (dim.valid_to_ms.isNull() | (probes.probe_ms < dim.valid_to_ms))
    )
    return probes.join(dim, cond).select(
        probes.user_id,
        "probe_ms",
        F.col("event_type").alias("active_type"),
        F.col("valid_from_ms").alias("active_from_ms"),
    )
