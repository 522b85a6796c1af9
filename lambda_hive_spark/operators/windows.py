"""Window-function operators (SURVEY.md §2.5).

Determinism rule: every window ORDER BY carries a unique tie-break
key (orderkey/event_id) so ranks and frames are engine-independent.
Float accumulation inside frames uses the decimal-exact pattern
(helpers.py) — window sums are then identical regardless of how each
engine evaluates the frame (Spark incremental vs DuckDB segment tree).

Scale notes: all windows partition by a key (custkey/user_id) — one
shuffle, then per-partition sorted evaluation; no global windows
except ntile/cume over a bounded slice, flagged below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lambda_hive_spark.helpers import dsum, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op


@op(
    "win_rank",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank() OVER w2 AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w2 AS BIGINT) AS drnk
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC),
       w2 AS (PARTITION BY o_custkey ORDER BY o_orderstatus ASC)
""",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank per customer. rank/dense_rank order
    by a tie-heavy key (status) to exercise peer groups."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    w2 = Window.partitionBy("o_custkey").orderBy(F.col("o_orderstatus").asc())
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w2).cast("long").alias("rnk"),
        F.dense_rank().over(w2).cast("long").alias("drnk"),
    )


@op(
    "win_topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — rank-filter pattern; Spark prunes
    with a WindowGroupLimit at scale."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@op(
    "win_lag_lead",
    oracle="""
SELECT event_id, user_id, value,
       lag(value, 1) OVER w AS prev_value,
       lead(value, 1) OVER w AS next_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event value per user (values moved, not computed —
    raw doubles are hash-safe)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
    )


@op(
    "win_running",
    oracle=f"""
SELECT event_id, user_id,
       {sql_dsum('value', prec=38, over='w')} AS running_value,
       CAST(COUNT(*) OVER w AS BIGINT) AS running_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative decimal-exact sum per user."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        dsum("value", prec=38, over=w).alias("running_value"),
        F.count(F.lit(1)).over(w).cast("long").alias("running_n"),
    )


@op(
    "win_sliding_rows",
    oracle=f"""
SELECT event_id, user_id,
       ({sql_dsum('value', prec=38, over='w')} / COUNT(*) OVER w) AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def win_sliding_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average (decimal-exact sum / exact count)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    msum = dsum("value", prec=38, over=w)
    return ev.select(
        "event_id",
        "user_id",
        (msum / F.count(F.lit(1)).over(w)).alias("moving_avg"),
    )


@op(
    "win_range_frame",
    oracle=f"""
SELECT o_orderkey, o_custkey,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_within_10k,
       {sql_dsum('o_totalprice', prec=38, over='w')} AS sum_within_10k
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT) ASC
             RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW)
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering — peers included by value
    distance, not row position. Ordering key is integer cents
    (floor(price*100), IEEE-identical on both engines) because
    PySpark's rangeBetween only accepts integral offsets."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("price_cents").asc())
        .rangeBetween(-1000000, Window.currentRow)
    )
    return (
        o.withColumn("price_cents", cents)
        .select(
            "o_orderkey",
            "o_custkey",
            "price_cents",
            F.count(F.lit(1)).over(w).cast("long").alias("n_within_10k"),
            dsum("o_totalprice", prec=38, over=w).alias("sum_within_10k"),
        )
    )


@op(
    "win_ntile_cume",
    oracle="""
SELECT o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC)
""",
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist per status partition. percent_rank
    = (rank-1)/(n-1) — identical integer division on both engines.
    NULLS LAST is pinned explicitly on both sides: the engines'
    default ASC null placement differs (Spark FIRST, DuckDB LAST),
    which would shift every rank on a null-bearing corpus."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc_nulls_last(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@op(
    "win_first_last",
    oracle="""
SELECT o_orderkey, o_custkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS last_price,
       first_value(nullif(o_orderstatus, 'P') IGNORE NULLS) OVER w AS first_nonpending_status
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over an unbounded frame, incl. IGNORE NULLS
    (nulls manufactured via nullif — fixtures are null-free)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.first(F.nullif(F.col("o_orderstatus"), F.lit("P")), ignorenulls=True)
        .over(w)
        .alias("first_nonpending_status"),
    )


@op(
    "win_distinct_running",
    oracle="""
SELECT e.user_id, e.event_id,
       CAST((
         SELECT COUNT(DISTINCT e2.event_type) FROM events e2
         WHERE e2.user_id = e.user_id
           AND (e2.ts < e.ts OR (e2.ts = e.ts AND e2.event_id <= e.event_id))
       ) AS BIGINT) AS n_distinct_types
FROM events e
""",
)
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user: how many distinct event types
    each user has touched up to each event — the engagement-breadth
    metric. COUNT(DISTINCT) OVER isn't directly supported by either
    engine, so the Spark plan builds it as
    size(array_distinct(collect_list over the running frame)) — one
    window pass, state bounded by the type cardinality — while the
    oracle spells the same semantics as a correlated subquery
    (quadratic, fine at oracle scale; the window form is the one that
    survives 100 TB). Deterministic frame via (ts, event_id) ordering."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("bigint")
        .alias("n_distinct_types"),
    )


@op(
    "win_ratio_to_report",
    oracle=f"""
SELECT o_orderkey, o_custkey, o_totalprice,
       o_totalprice / {sql_dsum('o_totalprice', over='(PARTITION BY o_custkey)')} AS share
FROM orders
""",
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each order's share of its customer's total
    spend — the windowed percent-of-total every BI layer generates.
    The partition total accumulates through decimal (order-independent
    → bit-identical denominators at any parallelism); the share is
    then one IEEE division. One shuffle on o_custkey, no sort needed
    (unordered frame), state per partition is a single accumulator."""
    w = Window.partitionBy("o_custkey")
    total = dsum("o_totalprice", over=w)
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.col("o_totalprice") / total).alias("share"),
    )


@op(
    "win_gaps_islands",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
           AS grp
  FROM events
)
SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS run_len,
       MIN(event_id) AS first_event_id, MAX(event_id) AS last_event_id
FROM seq
GROUP BY user_id, event_type, grp
HAVING COUNT(*) >= 3
""",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of >=3 CONSECUTIVE same-type
    events per user (repeated errors, purchase streaks) via the
    classic row_number-difference trick — two window numberings whose
    difference is constant within a run. The canonical sequential
    pattern that pure relational grouping can't express directly.

    Scale: both row_numbers partition by user_id (the second
    sub-partitions by type), so Catalyst plans ONE exchange on
    user_id; the island groupBy then combines map-side. State per row
    is two counters — this shape streams fine at 100 TB. Deterministic
    ordering via (ts, event_id)."""
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
    )
    return (
        seq.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
        .filter(F.col("run_len") >= 3)
        .drop("grp")
    )


@op(
    "win_moving_median",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n,
       quantile_cont(n, 0.5) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS med7
FROM daily
""",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving MEDIAN over a 7-row trailing frame — the robust
    smoother for spiky per-user activity (a mean-based 7-day average
    doubles on one burst day; the median shrugs). percentile() is an
    ordinary aggregate in Spark, so it runs directly as a window
    function over the frame; inputs are integral daily counts, so the
    linear interpolation at even frame sizes is exact binary fp on
    both engines.

    Scale: the window input is the (user, day) pre-aggregate — ~1e4×
    smaller than raw events; one shuffle on user_id; per-row frame
    work is O(7 log 7)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.percentile("n", 0.5).over(w).alias("med7"),
    )
