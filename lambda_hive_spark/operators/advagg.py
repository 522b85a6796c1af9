"""Advanced aggregation (SURVEY.md §2.4 remainder): distinct/approx
aggregates, moment statistics, exact percentiles, collect, grouping
sets / rollup / cube, pivot.

Parity notes:
- Moment stats (variance/stddev/corr) are order-dependent if computed
  by the engines' native streaming implementations; instead they are
  derived HERE from decimal-exact sums (Σx, Σx², Σxy) with identical
  double arithmetic on both sides → bit-identical. The two-pass
  formula is numerically fine at these magnitudes (mean²/var ≪ 1e12).
- Exact percentiles over integral-valued quantities with q ∈ {.25,
  .5, .75}: every interpolation step is exact in binary floating
  point, so both engines' formulas agree exactly.
- collect_list/collect_set are always array_sort-ed (§5.1 rule 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark.helpers import (
    dsum,
    flat_exact_agg,
    hier_exact_agg,
    sql_dbl,
    sql_dec,
    sql_dsum,
    sql_micros,
    sql_micros_emit,
)
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op


@op(
    "agg_distinct",
    oracle=f"""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       {sql_dsum('l_quantity', prec=38, distinct=True)} AS sum_distinct_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM DISTINCT — distinct set is engine-independent; the
    sum goes through decimal so its order doesn't matter either."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        dsum("l_quantity", prec=38, distinct=True).alias("sum_distinct_qty"),
    )


@op(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ cardinality under the accuracy-contract gate (the
    agg_approx_error_bound pattern, VERDICT r3 item 2): the estimate
    itself is engine-specific so it cannot be value-compared, but
    |approx − exact| ≤ 5·rsd·exact is a hash-checkable boolean — a
    sketch drifting past five standard errors fails the driver gate.
    Scale: at 100 TB drop the exact column and keep the HLL's fixed
    per-group state; the contract column exists to make the sketch
    drivable by the correctness gate at test scale."""
    li = table(spark, sf_dir, "lineitem")
    rsd = 0.02
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=rsd).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 5 * rsd * F.col("exact_parts")
        ).alias("within_bound"),
    )


_STATS_SQL = f"""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         {sql_dsum('l_quantity')} AS sx,
         {sql_dsum('l_quantity * l_quantity')} AS sxx,
         {sql_dsum('l_extendedprice')} AS sy,
         {sql_dsum('l_extendedprice * l_extendedprice', 4)} AS syy,
         {sql_dsum('l_quantity * l_extendedprice', 4)} AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (sx / n) AS mean_qty,
       ((sxx - sx * sx / n) / (n - 1)) AS var_qty,
       sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
       round((sxy - sx * sy / n) / (n - 1), 4) AS covar_qty_price,
       round(((sxy - sx * sy / n) / (n - 1)) / (sqrt((sxx - sx * sx / n) / (n - 1)) * sqrt((syy - sy * sy / n) / (n - 1))), 8) AS corr_qty_price
FROM s
"""


@op("agg_stats", oracle=_STATS_SQL)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev/covariance/correlation from decimal-exact
    moments — identical double arithmetic on both engines (see module
    docstring). Scale: one pass over the data, map-side partials.

    Moment scales are chosen so every per-row cast is EXACT (products
    of 2-decimal prices are exact 4-decimal numbers → scale 4; any
    coarser scale creates genuine .xx50 halfway ties where Spark's
    HALF_UP and DuckDB's rint disagree — caught at sf0.1). The two
    price-moment sums exceed double's 15.9 significant digits, where
    the engines' decimal→double casts can differ by 1 ulp (DuckDB
    double-rounds via int128→double→divide), so the price-derived
    outputs are rounded just above that noise; quantity-only moments
    stay within exact-double range and ship unrounded."""
    li = table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(q).alias("sx"),
        dsum(q * q).alias("sxx"),
        dsum(p).alias("sy"),
        dsum(p * p, 4).alias("syy"),
        dsum(q * p, 4).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_qty = (sxx - sx * sx / n) / (n - 1)
    var_price = (syy - sy * sy / n) / (n - 1)
    covar = (sxy - sx * sy / n) / (n - 1)
    return s.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("stddev_qty"),
        F.round(covar, 4).alias("covar_qty_price"),
        F.round(covar / (F.sqrt(var_qty) * F.sqrt(var_price)), 8).alias("corr_qty_price"),
    )


@op(
    "agg_percentile",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.75) AS q75,
       quantile_cont(l_quantity, 0.99) AS q99
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles over integral-valued
    quantities — every interpolation is exact in binary fp. At 100 TB
    swap to percentile_approx (t-digest) — kept exact here because the
    oracle must hash-match."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.percentile(q, 0.25).alias("q25"),
        F.percentile(q, 0.5).alias("median_qty"),
        F.percentile(q, 0.75).alias("q75"),
        F.percentile(q, 0.99).alias("q99"),
    )


@op(
    "agg_collect",
    oracle="""
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
       CAST(len(list(DISTINCT event_type)) AS BIGINT) AS n_types
FROM events GROUP BY user_id
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set, array_sort-ed then string-joined: sql-oracle ops
    never emit array columns (list reprs differ across engines'
    pandas conversion — see tests/test_parity.py no-array policy)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("event_types"),
        F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
    )


@op(
    "agg_grouping_sets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL frontend over direct parquet paths
    (SURVEY.md §3 entry point 3 — no temp views, no session state)."""
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               {sql_dsum('o_totalprice', prec=38)} AS total
        FROM parquet.`{sf_dir}/orders.parquet`
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@op(
    "agg_rollup",
    oracle=f"""
SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
       CAST(grouping(r.r_name) * 2 + grouping(n.n_name) AS BIGINT) AS gid
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region → nation → grand total, with
    grouping_id to disambiguate the NULL-filled rollup rows."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.grouping_id().cast("long").alias("gid"),
    )


@op(
    "agg_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All subset totals over (status, priority)."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("total"),
        F.grouping_id().cast("long").alias("gid"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@op(
    "agg_pivot",
    oracle=f"""
SELECT user_id,
       {', '.join(sql_dbl(f"SUM(CASE WHEN event_type = '{t}' THEN {sql_dec('value', prec=38)} END)") + f" AS {t}" for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns (explicit value list so the schema
    is static — required for both the oracle and a 100 TB plan: a
    dynamic pivot needs an extra pass to discover values).

    r8 formulation: SINGLE-level long micros, the same rewrite that
    crossed agg_partial_final under (one fewer aggregate pass and
    Exchange; Catalyst's own partial/final BIGINT try_sum does the
    map-side combine). Per row: event_type → INT code (one CASE, so
    the 100M-row hash key stays the bare int64 user_id and the
    guarded micros value computes ONCE), then SIX conditional long
    sums — the exact conditional-aggregation shape DuckDB executes.
    Emission divides each long total back to value units through
    helpers.sql_micros_emit, the same nearest-double as sql_dsum. Measured at
    the 100x tier: 0.69 s vs 1.02 s two-level (1.47x), neutral at
    1000x (0.93 s both — the scan dominates); parity EXACT at sf0.01
    and scale100. History: sum(cast decimal) 3.2 s → two-level
    INT-code micros 0.9 s (r6) → this.

    Exactness contract (same as agg_partial_final): per-row guard
    |value·10^6| < 2^51 unchanged; per-(user, type) long total bound
    2^63 micros ≈ 9.2e12 value units, FAIL-VISIBLE via try_sum (an
    overflowing cell emits NULL and hash-mismatches, never wraps).
    Types outside the static list (and NULL) share code 5 and no
    conditional sum selects them — pivot-with-explicit-values
    semantics with the user's group row kept."""
    ev = table(spark, sf_dir, "events")
    code = (
        "CASE event_type "
        + " ".join(f"WHEN '{t}' THEN {i}" for i, t in enumerate(_EVENT_TYPES))
        + " ELSE 5 END"
    )
    pre = ev.select(
        "user_id", F.expr(f"{code} AS _code"), F.expr(f"{sql_micros('value')} AS _m")
    )
    agg = pre.groupBy("user_id").agg(
        *[
            F.expr(f"try_sum(CASE WHEN _code = {i} THEN _m END)").alias(f"_m{i}")
            for i in range(len(_EVENT_TYPES))
        ]
    )
    return agg.select(
        "user_id",
        *[F.expr(sql_micros_emit(f"_m{i}")).alias(t) for i, t in enumerate(_EVENT_TYPES)],
    )


@op(
    "agg_partial_final",
    oracle=f"""
SELECT l_suppkey, COUNT(*) AS n_items, {sql_dsum('l_quantity')} AS total_qty
FROM lineitem GROUP BY l_suppkey
""",
)
def agg_partial_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-cardinality groupBy whose plan must contain partial_count/
    partial_sum before the shuffle (asserted in tests/test_plans.py) —
    the map-side combine that makes 100 TB aggregation feasible.

    r8 formulation: SINGLE-level long micros. Catalyst's own partial/
    final BIGINT sum replaces the former two-level (key, pid) micros
    merge (hier_exact_agg) — one fewer aggregate pass, one fewer
    Exchange, and the map-side hash key is the bare int64 l_suppkey
    instead of (key, pid). Measured at the 100x bench tier: 0.60 s vs
    0.80 s two-level (1.33x), value parity EXACT at sf0.01 and the
    100x corpus (identical rounding path: per-row half-away long
    micros, one decimal division at emit — the same nearest-double
    as sql_dsum).

    Exactness contract: the per-row micros guard (|x·10^6| < 2^51)
    is unchanged; the GROUP-TOTAL bound is 2^63 micros ≈ 9.2e12 value
    units — a single group needs ~1e9 rows of 1e4-magnitude money to
    reach it (TPC-H suppkey groups at 100 TB carry ~4e4 rows).
    try_sum makes the bound FAIL-VISIBLE: an overflowing group emits
    NULL (hash-mismatching any oracle) instead of wrapping silently.
    For genuinely unbounded heavy-hitter keys, hier_exact_agg's
    decimal merge (agg_hash, join_multiway) remains the fallback.

    r11 (VERDICT r10 item 7): the hand-rolled inline form moved onto
    `flat_exact_agg` (helpers.py) — the SAME expressions this op built
    inline (guarded half-away micros, try_sum, one decimal division at
    emit), now constructed in the one place that documents the
    key-bounded-groups precondition. Plan and values are unchanged
    (the exchange-count fence and the oracle gate both pin this); the
    trailing select restores the declared column order."""
    li = table(spark, sf_dir, "lineitem")
    return flat_exact_agg(
        li, ["l_suppkey"], sums=[("total_qty", "l_quantity")], count_star="n_items"
    ).select("l_suppkey", "n_items", "total_qty")


@op(
    "agg_approx_error_bound",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
""",
)
def agg_approx_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-certifying approximation: HyperLogLog++ distinct-count per
    group, published as a BOOLEAN accuracy contract instead of the raw
    estimate. The op outputs the exact count plus `within_bound` =
    |approx − exact| ≤ 5·rsd·exact; the oracle asserts TRUE. A sketch
    that ever drifts past five standard errors hash-mismatches and the
    driver catches it — which upgrades this op from the rows-only
    class (where agg_approx_distinct necessarily lives) to a real
    correctness gate on the approximation's guarantee.

    Scale: this double-counts (exact + sketch in one aggregate) only
    to state the contract; the 100 TB deployment drops the exact
    column and keeps the HLL's fixed 1.5 KB/group state."""
    ev = table(spark, sf_dir, "events")
    rsd = 0.02
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 5 * rsd * F.col("exact_users")
        ).alias("within_bound"),
    )


@op(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count via bitmap aggregation (Spark 3.5+
    bitmap_* builtins): user ids are bucketed into fixed 32k-bit
    bitmaps per (group, bucket), OR-merged, then popcounted and
    summed. Same answer as count_distinct but the shuffle payload is
    bounded bitmap bytes per bucket instead of every distinct value —
    the standard exact-distinct accelerator for high-cardinality
    dashboards (HLL when ±2% is fine, bitmaps when it must be exact).

    Plan note: two map-combinable aggregations (bitmap OR is
    associative/commutative), zero expansion of distinct values
    through the exchange."""
    ev = table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users"))
    )
