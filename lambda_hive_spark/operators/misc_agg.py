"""Remaining aggregate surface: argmin/argmax, boolean aggregates,
and a dynamic-partition-pruning join over the date-partitioned layout.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark.helpers import dsum, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op
from lambda_hive_spark.scratch import mark_scratch_fresh, named as _scratch, scratch_stale


@op(
    "agg_minmax_by",
    oracle="""
SELECT o_orderstatus,
       arg_max(o_orderkey, o_totalprice) AS biggest_order,
       arg_min(o_orderkey, o_totalprice) AS smallest_order,
       MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price
FROM orders GROUP BY o_orderstatus
""",
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin/argmax per group (max_by/min_by ≡ DuckDB arg_max/arg_min).
    Deterministic here because o_totalprice values are distinct within
    each status group at these sf (ties would be engine-arbitrary)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@op(
    "agg_boolean",
    oracle="""
SELECT user_id,
       bool_and(value >= 0) AS all_nonneg,
       bool_or(event_type = 'error') AS any_error,
       CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchases
FROM events GROUP BY user_id
""",
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: every/any/count_if per user."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.every(F.col("value") >= 0).alias("all_nonneg"),
        F.some(F.col("event_type") == "error").alias("any_error"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
    )


@op(
    "join_dpp",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date, COUNT(*) AS n
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-05' OR CAST(ts AS DATE) = DATE '2024-01-20'
GROUP BY 1
""",
    tags=("side_effect",),
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise join: the date-partitioned event layout joined
    against a filtered dates dim — the shape that triggers dynamic
    partition pruning at scale (fact scan skips 363 of 365 days when
    the date filter only exists on a dimension). NOTE: Spark's DPP
    insertion is gated on a size-benefit heuristic that (correctly)
    declines on KB-scale fixtures even with useStats=false, so no
    `dynamicpruning` subquery appears here; static partition pruning
    of the same layout IS plan-asserted via `sink_partitioned`."""
    out = _scratch(f"events_dpp_{os.path.basename(sf_dir.rstrip('/'))}")
    fixture = os.path.join(sf_dir, "events.parquet")
    if scratch_stale(out, fixture):
        ev = table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
        ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
        mark_scratch_fresh(out, fixture)
    facts = spark.read.parquet(out)
    # the dim must be a filtered SOURCE (DPP inserts the pruning
    # subquery only when the build side carries a selective predicate)
    dim_path = _scratch(f"dates_dim_{os.path.basename(sf_dir.rstrip('/'))}")
    if scratch_stale(dim_path, fixture):
        facts.select("event_date").distinct().withColumn(
            "wanted", F.dayofmonth("event_date").isin(5, 20)
        ).write.mode("overwrite").parquet(dim_path)
        mark_scratch_fresh(dim_path, fixture)
    wanted = spark.read.parquet(dim_path).filter(F.col("wanted")).select(
        F.col("event_date").alias("d")
    )
    return (
        facts.join(wanted, facts.event_date == wanted.d)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SX = sql_dsum("l_quantity", 4)
_SY = sql_dsum("l_extendedprice", 4)
_SXX = sql_dsum("l_quantity * l_quantity", 4)
_SYY = sql_dsum("l_extendedprice * l_extendedprice", 4)
_SXY = sql_dsum("l_quantity * l_extendedprice", 4)


@op(
    "agg_corr_covar",
    oracle=f"""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       round(({_SXY} - {_SX} * {_SY} / COUNT(*)) / (COUNT(*) - 1), 4) AS covar_samp,
       round(({_SXY} - {_SX} * {_SY} / COUNT(*))
             / (sqrt({_SXX} - {_SX} * {_SX} / COUNT(*))
                * sqrt({_SYY} - {_SY} * {_SY} / COUNT(*))), 8) AS corr
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group sample covariance and Pearson correlation of quantity
    vs extended price — the bivariate statistics surface. Built from
    the five mergeable decimal-exact power sums (Sx, Sy, Sxx, Syy,
    Sxy) rather than builtin corr()/covar_samp(), because the builtins
    accumulate in order-dependent doubles on each engine; the power
    sums are exact at any parallelism (2-decimal inputs squared need
    scale 4) and the closed-form derivation is the same IEEE ops on
    both sides. Outputs rounded 4/8 decimals, ~8 orders above the
    residual double-division noise.

    Scale: one map-combinable pass — the same partial/final shape as
    agg_partial_final, just with 5 accumulators; this is also the
    merge-friendly form an incremental MV keeps (mv_agg_merge)."""
    li = table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q, 4).alias("sx"),
        dsum(p, 4).alias("sy"),
        dsum(q * q, 4).alias("sxx"),
        dsum(p * p, 4).alias("syy"),
        dsum(q * p, 4).alias("sxy"),
    )
    n = F.col("n")
    cov_num = F.col("sxy") - F.col("sx") * F.col("sy") / n
    return agg.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(cov_num / (n - 1), 4).alias("covar_samp"),
        F.round(
            cov_num
            / (
                F.sqrt(F.col("sxx") - F.col("sx") * F.col("sx") / n)
                * F.sqrt(F.col("syy") - F.col("sy") * F.col("sy") / n)
            ),
            8,
        ).alias("corr"),
    )


@op(
    "agg_mode_tiebreak",
    oracle="""
SELECT user_id, event_type AS mode_type, n
FROM (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
         row_number() OVER (
           PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type ASC
         ) AS rn
  FROM events GROUP BY user_id, event_type
)
WHERE rn = 1
""",
)
def agg_mode_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: each user's most frequent event type with
    lexicographic tie-break. Both engines' builtin mode() picks an
    ARBITRARY value on ties (hash-compare poison), so the op states
    the deterministic form explicitly: count per (user, type), then a
    rank-1 filter ordered by (count DESC, type ASC).

    Scale: the count is map-combinable on (user, type); the window
    repartitions only the small per-(user,type) aggregate on user_id —
    Catalyst plans WindowGroupLimit so per-group state is one row."""
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@op(
    "agg_weighted",
    oracle=f"""
WITH li AS (
  SELECT * FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
pw AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         {sql_dsum("l_quantity", 2)} AS w
  FROM li GROUP BY 1, 2
),
c AS (
  SELECT flag, price, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY price) AS cum,
         SUM(w) OVER (PARTITION BY flag) AS tot
  FROM pw
),
med AS (
  SELECT flag, MIN(price) AS weighted_median
  FROM c WHERE cum >= tot / 2 GROUP BY flag
),
mean AS (
  SELECT l_returnflag AS flag,
         ROUND({sql_dsum("l_extendedprice * l_quantity", 2)}
               / {sql_dsum("l_quantity", 2)}, 4) AS weighted_mean,
         {sql_dsum("l_quantity", 2)} AS total_weight
  FROM li GROUP BY 1
)
SELECT m.flag, m.weighted_mean, d.weighted_median, m.total_weight
FROM mean m JOIN med d ON m.flag = d.flag
""",
)
def agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-aware aggregation: quantity-weighted mean price and the
    lower weighted median (smallest price whose cumulative weight
    reaches half the total) per return flag. Neither engine has a
    deterministic builtin for the weighted median, so the op states it
    as pre-aggregate-per-value → ordered cumulative-weight window →
    rank-1 threshold filter — the form that is both engine-portable
    and shuffle-cheap.

    Exactness: quantities are integral and prices 2-decimal, so
    scale-2 decimal sums are exact and (at ~8e11 magnitude) stay under
    the ~15.9-significant-digit double-decode hazard (helpers.py
    module doc); the cumulative window sums run in the same
    price-ascending order on both engines → bit-identical doubles.

    Scale: the heavy input collapses to |flag × distinct price| rows
    before any window runs; the window partitions on flag only AFTER
    that reduction, so no wide-row shuffle ever carries the fact
    table."""
    from pyspark.sql.window import Window

    # Weighted stats are defined over observed (price, weight) pairs:
    # rows missing either are excluded on BOTH sides — otherwise a
    # NULL price group's engine-specific ORDER BY placement (Spark
    # NULLS FIRST vs DuckDB NULLS LAST) shifts every cumulative sum.
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    pw = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("price")
        ).agg(dsum("l_quantity", 2).alias("w"))
    )
    wc = Window.partitionBy("flag").orderBy("price")
    wt = Window.partitionBy("flag")
    med = (
        pw.withColumn("cum", F.sum("w").over(wc))
        .withColumn("tot", F.sum("w").over(wt))
        .filter(F.col("cum") >= F.col("tot") / 2)
        .groupBy("flag")
        .agg(F.min("price").alias("weighted_median"))
    )
    mean = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(
            dsum(F.col("l_extendedprice") * F.col("l_quantity"), 2)
            / dsum("l_quantity", 2),
            4,
        ).alias("weighted_mean"),
        dsum("l_quantity", 2).alias("total_weight"),
    )
    return mean.join(med, "flag").select(
        "flag", "weighted_mean", "weighted_median", "total_weight"
    )


@op(
    "agg_listagg_ordered",
    oracle="""
SELECT o_custkey,
       string_agg(o_orderstatus, '' ORDER BY o_orderdate, o_orderkey) AS status_seq,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderdate, o_orderkey) AS key_seq
FROM orders
WHERE o_custkey % 50 = 0
GROUP BY o_custkey
""",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG ... WITHIN GROUP (ORDER BY ...) (new in Spark 4) —
    ordered string aggregation without the collect_list+sort_array
    detour. The ORDER BY must be a TOTAL order ((o_orderdate,
    o_orderkey) — unique) or the concatenation is
    partitioning-dependent and no oracle can match it. Per-customer
    order-status journey strings are the warehouse's sequence-mining
    input (funnel_path_regex consumes exactly this shape)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    return o.groupBy("o_custkey").agg(
        F.expr(
            "listagg(o_orderstatus) WITHIN GROUP (ORDER BY o_orderdate, o_orderkey)"
        ).alias("status_seq"),
        F.expr(
            "listagg(CAST(o_orderkey AS STRING), ',')"
            " WITHIN GROUP (ORDER BY o_orderdate, o_orderkey)"
        ).alias("key_seq"),
    )


@op(
    "agg_filter_clause",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_all,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
       {sql_dsum('l_extendedprice')} AS rev_all,
       {sql_dsum('l_extendedprice', where='l_discount > 0.05')} AS rev_discounted,
       CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 40) AS BIGINT) AS bulk_suppliers
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI aggregate FILTER clause — per-aggregate predicates
    without CASE-WHEN scaffolding, including over SUM(decimal) and
    COUNT(DISTINCT): one scan, one shuffle, every conditional metric
    side by side. This is the standard shape of a KPI rollup; the
    decimal-exact sum keeps the filtered revenue hash-stable."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.expr("COUNT(*) FILTER (WHERE l_discount > 0.05)").alias("n_discounted"),
        dsum("l_extendedprice").alias("rev_all"),
        F.expr(sql_dsum("l_extendedprice", where="l_discount > 0.05")).alias("rev_discounted"),
        F.expr(
            "COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 40)"
        ).alias("bulk_suppliers"),
    )
