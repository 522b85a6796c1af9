"""Analytics patterns: subquery family (exercising Catalyst's
decorrelation rewrites), skew-salted aggregation, event funnels,
cohort retention, and a partition-pruned sink round-trip.

The subquery ops deliberately go through `spark.sql` so the ANTLR
parser + `RewriteCorrelatedScalarSubquery` / semi-join planning run
end-to-end (plan shapes asserted in tests/test_plans.py). AVG over
`l_quantity` is parity-safe in plain double: the column is integral
(1..50, verified), so partial sums are exact at any partition order.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lambda_hive_spark.helpers import dbl, dec, dsum, sorted_pairs, sql_dsum
from lambda_hive_spark.io import register_views, table
from lambda_hive_spark.registry import op
from lambda_hive_spark.scratch import named as _scratch

_SCALAR_SUBQ = f"""
SELECT p_partkey, p_retailprice
FROM part
WHERE p_retailprice > (SELECT {sql_dsum("p_retailprice")} / COUNT(*) FROM part)
"""


@op("subq_scalar", oracle=_SCALAR_SUBQ)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (price above corpus mean); the
    mean is the order-independent exact-decimal average so the
    comparison boundary cannot flip between engines."""
    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQ)


_IN_SUBQ = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
"""


@op("subq_in", oracle=_IN_SUBQ)
def subq_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — planned as a left-semi join."""
    register_views(spark, sf_dir)
    return spark.sql(_IN_SUBQ)


_EXISTS_SUBQ = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""


@op("subq_exists_corr", oracle=_EXISTS_SUBQ)
def subq_exists_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — decorrelated to a semi join by Catalyst."""
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SUBQ)


_CORR_SCALAR = """
SELECT l.l_orderkey, l.l_partkey, l.l_quantity
FROM lineitem l
WHERE l.l_quantity < 0.5 * (SELECT AVG(l2.l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = l.l_partkey)
"""


@op("subq_scalar_corr", oracle=_CORR_SCALAR)
def subq_scalar_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated scalar aggregate (quantity below
    half the part's mean) — RewriteCorrelatedScalarSubquery turns the
    per-row subquery into one aggregate + join; plain AVG is safe
    because l_quantity is integral (module doc)."""
    register_views(spark, sf_dir)
    return spark.sql(_CORR_SCALAR)


_SALT_BUCKETS = 16


@op(
    "join_skew_salted",
    oracle=f"""
SELECT event_type, COUNT(*) AS n, {sql_dsum("value")} AS total_value
FROM events GROUP BY event_type
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a 5-hot-key distribution:
    stage 1 aggregates (key, salt) so each hot key spreads across
    16 reducers; stage 2 merges the partials. Results are
    exactly the plain groupBy (oracle) — decimal partials re-sum
    exactly. This is the manual skew pattern for when AQE's runtime
    skew-split isn't available (e.g. pre-shuffle hot producers)."""
    ev = table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_SALT_BUCKETS))
    )
    partial = ev.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum(dec("value")).alias("pv")
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"), dbl(F.sum("pv")).alias("total_value")
    )


@op(
    "funnel_conversion",
    oracle="""
WITH first_signup AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
converted AS (
  SELECT DISTINCT f.user_id
  FROM first_signup f JOIN events e ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts > f.signup_ts
    AND e.ts <= f.signup_ts + INTERVAL '7 days'
)
SELECT (SELECT COUNT(*) FROM first_signup) AS n_signed_up,
       (SELECT COUNT(*) FROM converted) AS n_converted
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase-within-7-days funnel: first signup per user,
    semi-join purchases inside the window, two scalar counts. The
    per-user dim is ONE ROW PER USER — it scales with the fact, so
    the join is unhinted and AQE broadcasts only while it actually
    fits (the r9 audit rule: hints only for sets bounded by
    construction, never per-entity aggregates)."""
    ev = table(spark, sf_dir, "events")
    first = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .filter(
            (F.col("ts") > F.col("signup_ts"))
            & (F.col("ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 days"))
        )
        .select("user_id")
        .distinct()
    )
    return first.agg(F.count(F.lit(1)).alias("n_signed_up")).crossJoin(
        conv.agg(F.count(F.lit(1)).alias("n_converted"))
    )


@op(
    "retention_cohort",
    oracle="""
WITH first_seen AS (
  SELECT user_id, strftime(date_trunc('week', MIN(ts)), '%Y-%m-%d') AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week, strftime(date_trunc('week', e.ts), '%Y-%m-%d') AS activity_week,
       COUNT(DISTINCT e.user_id) AS active_users
FROM events e JOIN first_seen f USING (user_id)
GROUP BY 1, 2
""",
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort = week of first event,
    activity = week of each event, distinct active users per cell.
    The cohort dim is one row per user — fact-scaled, so the join
    is unhinted; AQE broadcasts it only while it fits."""
    ev = table(spark, sf_dir, "events")
    week = lambda c: F.date_format(F.date_trunc("week", c), "yyyy-MM-dd")  # noqa: E731
    first = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .groupBy("cohort_week", week(F.col("ts")).alias("activity_week"))
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@op(
    "sink_partitioned",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date, event_type, COUNT(*) AS n
FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
GROUP BY 1, 2
""",
    tags=("side_effect",),
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned parquet sink + pruned read-back: write events
    partitionBy(event_date), read back filtered to one day — the scan
    lists only that partition directory (PartitionFilters asserted in
    tests/test_plans.py). THE layout decision for time-series data at
    100 TB."""
    out = _scratch("events_partitioned")
    ev = table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_date") == "2024-01-15")
    return (
        back.groupBy(F.col("event_date").cast("string").alias("event_date"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@op(
    "fulfillment_lag",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE)
         / COUNT(*) AS avg_lag_days,
       quantile_cont(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0.5) AS p50_lag,
       quantile_cont(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0.95) AS p95_lag
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency distribution per priority class: integer
    day-diffs make every sum and interpolated percentile exact in
    double, so no decimal detour is needed. The canonical SLA query
    shape over the fact-fact join."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(lag.cast("double")) / F.count(F.lit(1))).alias("avg_lag_days"),
            F.percentile(lag, 0.5).alias("p50_lag"),
            F.percentile(lag, 0.95).alias("p95_lag"),
        )
    )


@op(
    "funnel_path_regex",
    oracle="""
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(journey) AS BIGINT) AS n_events,
       md5(journey) AS journey_md5,
       regexp_matches(journey, 'v.*c.*p') AS saw_view_click_purchase,
       regexp_matches(journey, 'e{2}') AS saw_error_streak
FROM j
""",
)
def funnel_path_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern sequence analytics without MATCH_RECOGNIZE: each
    user's event history becomes an ordered one-char-per-event journey
    string (v/c/p/e/s), and funnel questions become regexes over it —
    'v.*c.*p' is view→click→purchase in order with anything between,
    'e{2}' is two consecutive errors. The journey is built
    deterministically with sort_array(collect_list(struct(ts,
    event_id, type))) so ties break identically on both engines; the
    oracle is string_agg ORDER BY. Regex over a per-user string is the
    pragmatic Spark spelling of sequence pattern matching, and it
    scales: one shuffle on user_id, journeys are |events-per-user|
    chars, and the regexes are per-row codegen'd kernels.

    Output carries md5(journey), not the journey, to keep rows
    fixed-width."""
    ev = table(spark, sf_dir, "events")
    packed = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", F.col("event_type").alias("t")))
        ).alias("seq")
    )
    journey = F.array_join(
        F.transform(F.col("seq"), lambda x: F.substring(x["t"], 1, 1)), ""
    )
    return packed.select(
        "user_id",
        F.length(journey).cast("bigint").alias("n_events"),
        F.md5(journey).alias("journey_md5"),
        journey.rlike("v.*c.*p").alias("saw_view_click_purchase"),
        journey.rlike("e{2}").alias("saw_error_streak"),
    )


@op(
    "attribution_last_touch",
    oracle="""
WITH tagged AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
         event_type IN ('click', 'view') AS is_touch
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase')
),
w AS (
  SELECT *,
         last_value(CASE WHEN is_touch THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_id,
         last_value(CASE WHEN is_touch THEN ms END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ms,
         last_value(CASE WHEN is_touch THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
  FROM tagged
)
SELECT event_id AS purchase_id, user_id,
       CASE WHEN touch_ms IS NOT NULL AND ms - touch_ms <= 7 * 86400000
            THEN touch_id END AS attributed_touch_id,
       CASE WHEN touch_ms IS NOT NULL AND ms - touch_ms <= 7 * 86400000
            THEN touch_type END AS attributed_type,
       CASE WHEN touch_ms IS NOT NULL AND ms - touch_ms <= 7 * 86400000
            THEN ms - touch_ms END AS gap_ms
FROM w WHERE event_type = 'purchase'
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution with a 7-day lookback: each purchase is
    credited to the user's most recent prior click/view, or left
    unattributed when none lands inside the window — the
    marketing-analytics sibling of the as-of join. One shuffle on
    user_id; the three IGNORE-NULLS last_value frames share a single
    window sort (Catalyst reuses the exchange+sort), and the frame
    ends at 1 PRECEDING so a purchase can never attribute to itself
    even at identical timestamps (tie-break (ms, event_id) is total).
    Exact integer-ms gaps keep the oracle hash clean."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    tagged = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_millis("ts").alias("ms"),
        F.col("event_type").isin("click", "view").alias("is_touch"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    def last_touch(col):
        return F.last(F.when(F.col("is_touch"), F.col(col)), ignorenulls=True).over(w)
    enriched = tagged.select(
        "*",
        last_touch("event_id").alias("touch_id"),
        last_touch("ms").alias("touch_ms"),
        last_touch("event_type").alias("touch_type"),
    ).filter(F.col("event_type") == "purchase")
    in_window = F.col("touch_ms").isNotNull() & (
        F.col("ms") - F.col("touch_ms") <= 7 * 86400000
    )
    return enriched.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(in_window, F.col("touch_id")).alias("attributed_touch_id"),
        F.when(in_window, F.col("touch_type")).alias("attributed_type"),
        F.when(in_window, F.col("ms") - F.col("touch_ms")).alias("gap_ms"),
    )


@op(
    "funnel_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts), event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM trans GROUP BY 1)
SELECT t.from_type, t.to_type, t.n,
       CAST(t.n AS DOUBLE) / CAST(o.n_from AS DOUBLE) AS p
FROM trans t JOIN tot o ON t.from_type = o.from_type
""",
)
def funnel_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: the event-type transition matrix
    (from→to counts per consecutive user-event pair, and the row-
    normalized transition probability) — the input to Markov-chain
    attribution and next-action prediction. One lag window (single
    shuffle on user_id), one map-combined count; the row totals join
    is 5×5. Probabilities are exact-integer divisions (bit-identical
    IEEE on both engines), so no rounding is needed."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("from_type")
    ).filter(F.col("from_type").isNotNull())
    trans = seq.groupBy("from_type", F.col("event_type").alias("to_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        trans.join(F.broadcast(tot), "from_type")
        .select(
            "from_type", "to_type", "n",
            (F.col("n").cast("double") / F.col("n_from").cast("double")).alias("p"),
        )
    )


@op(
    "customer_rfm_segments",
    oracle=f"""
WITH base AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         {sql_dsum("o_totalprice")} AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, frequency, monetary,
         ntile(5) OVER (ORDER BY last_order ASC NULLS FIRST, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency ASC NULLS FIRST, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary ASC NULLS FIRST, o_custkey) AS m_score
  FROM base
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(o_custkey) AS BIGINT) AS sample_customer
FROM scored GROUP BY 1, 2, 3
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM cut: per customer, recency
    (last order date), frequency (order count) and monetary
    (decimal-exact revenue), each scored into quintiles with ntile(5),
    then the 5×5×5 segment census. Every ntile ORDER BY carries the
    customer key as tie-break: ntile assigns by position, so a
    non-total order would make segment membership partitioning-
    dependent — the classic nondeterminism trap with rank-based
    scoring. Output is segment-level (≤125 rows) — the shape a
    campaign tool consumes.

    Scale: the base aggregate is map-combined on o_custkey; the three
    quintile assignments run through the two-phase global_ntile
    (scale_windows.py) — recency buckets on the exact order date plus
    a coarse custkey sub-bucket (dates are bounded-cardinality and the
    NULL date group, ~⅓ of customers, spreads across sub-buckets
    instead of one task), frequency likewise on the exact small-int
    count, monetary on a 1000-wide band of the revenue plus a
    NULL-band-only custkey sub-bucket (the band is already a
    coarsening, so only the constant-monetary NULL band may be split
    further — see the inline contract note) — so the exact
    ntile(5) semantics the oracle certifies survive with no
    customer-sized input ever crossing a single-partition window."""
    from lambda_hive_spark.scale_windows import global_ntile

    o = table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    # ASC NULLS FIRST pinned on BOTH sides: Spark's ASC default is
    # nulls-first, DuckDB's is nulls-last — with an all-NULL monetary
    # group (25%-null corpus) the unpinned ntiles shifted every
    # quintile boundary (caught by the sf0.01 nulled_heavy sweep).
    sub = (F.floor(F.col("o_custkey") / 65536), "asc")
    scored = global_ntile(
        base,
        5,
        [F.asc_nulls_first("last_order"), F.col("o_custkey")],
        [(F.col("last_order"), "asc_nulls_first"), sub],
        "r_score",
    )
    scored = global_ntile(
        scored,
        5,
        [F.asc_nulls_first("frequency"), F.col("o_custkey")],
        [(F.col("frequency"), "asc_nulls_first"), sub],
        "f_score",
    )
    # The monetary sub-bucket must be CONDITIONAL on NULL: the primary
    # component is a coarsened band (unlike r/f's exact values), so an
    # unconditional custkey sub-bucket would order rows inside a band
    # by custkey-group before monetary — breaking the bucket contract
    # (scale_windows module doc: only the LAST component may coarsen).
    # Inside the NULL band monetary is constant, so there the custkey
    # coarsening is a valid tie-break split; elsewhere the component
    # is a constant 0 and the band stays whole. This spreads the
    # ~25%-null monetary group (the one skewed task) across 256-ish
    # sub-buckets without touching non-null band boundaries.
    m_sub = (
        F.when(F.col("monetary").isNull(), F.floor(F.col("o_custkey") / 65536))
        .otherwise(F.lit(0)),
        "asc",
    )
    scored = global_ntile(
        scored,
        5,
        [F.asc_nulls_first("monetary"), F.col("o_custkey")],
        [(F.floor(F.col("monetary") / 1000), "asc_nulls_first"), m_sub],
        "m_score",
    ).select("o_custkey", "frequency", "monetary", "r_score", "f_score", "m_score")
    return (
        scored.groupBy(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").alias("sample_customer"),
        )
    )


@op(
    "basket_part_affinity",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey % 100 AS part_bucket FROM lineitem
),
n_baskets AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
single AS (
  SELECT part_bucket, CAST(COUNT(*) AS BIGINT) AS n_b FROM baskets GROUP BY 1
),
pair AS (
  SELECT a.part_bucket AS part_a, b.part_bucket AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.part_bucket < b.part_bucket
  GROUP BY 1, 2 HAVING COUNT(*) >= 20
)
SELECT p.part_a, p.part_b, p.n_ab,
       CAST(p.n_ab * t.n AS DOUBLE) / CAST(sa.n_b * sb.n_b AS DOUBLE) AS lift
FROM pair p
JOIN single sa ON p.part_a = sa.part_bucket
JOIN single sb ON p.part_b = sb.part_bucket
CROSS JOIN n_baskets t
ORDER BY lift DESC, part_a, part_b
LIMIT 50
""",
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: which part families co-occur in the
    same order beyond chance — support counts plus lift =
    P(ab)/(P(a)P(b)) from exact integers divided in double, top-50
    fully tie-broken (the text_collocation_lift recipe applied to the
    co-purchase graph). Parts bucket to 100 families so pair support
    is meaningful at every sf; the ≥20-support floor is the standard
    spurious-pair guard.

    Scale: baskets are DISTINCT (order, family) projections; the pair
    expansion is a self-equi-join on l_orderkey, bounded by
    (families-per-order choose 2) — never parts², never orders². One
    shuffle on the order key, map-combined counts after."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("part_bucket")
    ).distinct()
    n_baskets = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    single = baskets.groupBy("part_bucket").agg(F.count(F.lit(1)).alias("n_b"))
    a = baskets.withColumnsRenamed({"part_bucket": "part_a"})
    b = baskets.withColumnsRenamed({"part_bucket": "part_b"})
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 20)
    )
    sa = single.withColumnsRenamed({"part_bucket": "part_a", "n_b": "na"})
    sb = single.withColumnsRenamed({"part_bucket": "part_b", "n_b": "nb"})
    lift = (F.col("n_ab") * F.col("n")).cast("double") / (
        F.col("na") * F.col("nb")
    ).cast("double")
    return (
        pair.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select("part_a", "part_b", "n_ab", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(50)
    )


@op(
    "events_burst_detect",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms
  FROM events WHERE event_type = 'error'
),
w AS (
  SELECT user_id, event_id, ms,
         CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ms
              RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h
  FROM e
)
SELECT user_id, event_id, ms, n_1h FROM w WHERE n_1h >= 2
""",
)
def events_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection: errors where the same user produced ≥2
    errors inside the trailing hour — the ops-monitoring sibling
    of the sliding window, expressed as a TIME-range frame (RANGE over
    epoch-ms, so identical timestamps are peers and the result is
    order-deterministic without a tie-break column). One shuffle on
    user_id; at 100 TB this is the batch twin of stream_sliding with
    per-key state bounded by the 1-hour horizon. Threshold/window are
    tuned so every fixture scale (sf0.001/0.01/0.1) yields non-empty
    output — a 0-row green is vacuous evidence (VERDICT r4 item 4)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    e = ev.select("user_id", "event_id", F.unix_millis("ts").alias("ms"))
    w = Window.partitionBy("user_id").orderBy("ms").rangeBetween(-3600000, 0)
    return (
        e.withColumn("n_1h", F.count(F.lit(1)).over(w))
        .filter(F.col("n_1h") >= 2)
        .select("user_id", "event_id", "ms", "n_1h")
    )


@op(
    "parts_abc_classification",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey % 100 AS part_bucket,
         {sql_dsum("l_extendedprice")} AS revenue
  FROM lineitem GROUP BY 1
),
tot AS (SELECT {sql_dsum("revenue")} AS total FROM rev),
ranked AS (
  SELECT part_bucket, revenue,
         {sql_dsum("revenue", over='''(
           ORDER BY revenue DESC, part_bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS cum_rev
  FROM rev
)
SELECT r.part_bucket, r.revenue,
       CASE WHEN r.cum_rev / t.total <= 0.8 THEN 'A'
            WHEN r.cum_rev / t.total <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked r CROSS JOIN tot t
""",
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory classification: rank part families by
    revenue, classify by cumulative share (A ≤ 80%, B ≤ 95%, C rest).
    Every sum — per-family, cumulative, and grand total — runs through
    the decimal-exact pattern, so the cum/total ratio is the same
    IEEE division on both engines and the class boundaries cannot
    flip on accumulation order. The cumulative window orders by
    (revenue desc, family) — a total order, or cum_rev itself would
    be partitioning-dependent. Output is family-level (100 rows);
    the window sorts the aggregate, never the fact table."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy((F.col("l_partkey") % 100).alias("part_bucket")).agg(
        dsum("l_extendedprice").alias("revenue")
    )
    tot = rev.agg(dsum("revenue").alias("total"))
    w = (
        Window.orderBy(F.col("revenue").desc(), "part_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dsum("revenue", over=w)
    ranked = rev.withColumn("cum_rev", cum)
    share = F.col("cum_rev") / F.col("total")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "part_bucket", "revenue",
            F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias("abc_class"),
        )
    )


@op(
    "events_interarrival",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
  FROM events
)
SELECT user_id,
       CAST(COUNT(gap_ms) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_ms) AS BIGINT) AS min_gap_ms,
       CAST(MAX(gap_ms) AS BIGINT) AS max_gap_ms,
       CAST(SUM(gap_ms) AS BIGINT) AS total_gap_ms,
       quantile_cont(gap_ms, 0.5) AS median_gap_ms
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY user_id
""",
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: consecutive-event gaps in
    exact integer milliseconds (lag over a total order), then count /
    min / max / exact sum and the interpolated median. Everything is
    integer arithmetic except the median, whose linear interpolation
    on integer inputs yields at worst one exact .5 — hash-stable
    without rounding (the agg_percentile precedent). One shuffle on
    user_id shared by the lag window and the aggregate. Inter-arrival
    distributions drive bot detection and session-gap calibration
    (the 30-min sessionize threshold comes from exactly this table)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_ms").alias("n_gaps"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.sum("gap_ms").alias("total_gap_ms"),
        F.percentile(F.col("gap_ms"), F.lit(0.5)).alias("median_gap_ms"),
    )


@op(
    "events_week_over_week",
    oracle="""
WITH weekly AS (
  SELECT event_type,
         strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
paired AS (
  SELECT event_type, week, n,
         LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
  FROM weekly
)
SELECT event_type, week, n, prev_n,
       n - prev_n AS delta,
       CAST(n AS DOUBLE) / CAST(prev_n AS DOUBLE) AS wow_ratio
FROM paired WHERE prev_n IS NOT NULL
""",
)
def events_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movers: weekly counts per event type with the
    previous week's count, absolute delta and growth ratio — the
    dashboard query behind every "what changed" alert. Counts are
    exact integers; the ratio is one exact-integer division. The lag
    window runs over the (type, week) aggregate — dozens of rows —
    never the event log; weeks ISO-truncate identically on both
    engines under the pinned UTC session."""
    ev = table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    paired = weekly.withColumn("prev_n", F.lag("n").over(w)).filter(
        F.col("prev_n").isNotNull()
    )
    return paired.select(
        "event_type", "week", "n", "prev_n",
        (F.col("n") - F.col("prev_n")).alias("delta"),
        (F.col("n").cast("double") / F.col("prev_n").cast("double")).alias("wow_ratio"),
    )


@op(
    "supplier_scorecard",
    oracle=f"""
SELECT s.s_suppkey, s.s_name,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       CAST(COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS BIGINT) AS n_returned,
       CAST(COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS DOUBLE) / COUNT(*) AS return_rate,
       {sql_dsum('l.l_discount', 6)} / COUNT(*) AS avg_discount
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
""",
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier KPI scorecard: line volume, decimal-exact revenue,
    return counts and rate, and average discount — the vendor-review
    table a procurement dashboard serves. One broadcast join (supplier
    is dim-bounded), one map-combined aggregate; the return rate is an
    exact-integer ratio, the average discount a decimal-exact sum over
    an exact count, so every KPI is hash-stable at any parallelism."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = F.count(F.lit(1))
    n_ret = F.count(F.when(F.col("l_returnflag") == "R", 1))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            n.alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            n_ret.alias("n_returned"),
            (n_ret.cast("double") / n).alias("return_rate"),
            (dsum("l_discount", 6) / n).alias("avg_discount"),
        )
    )


@op(
    "orders_duplicate_suspects",
    oracle="""
SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
       a.o_custkey, a.o_totalprice AS price_a, b.o_totalprice AS price_b,
       CAST(date_diff('day', CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE)) AS BIGINT) AS day_gap
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND CAST(floor(a.o_totalprice / 5000) AS BIGINT) = CAST(floor(b.o_totalprice / 5000) AS BIGINT)
 AND a.o_orderkey < b.o_orderkey
WHERE abs(date_diff('day', CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE))) <= 90
""",
)
def orders_duplicate_suspects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screening: order pairs from the same customer
    in the SAME $5k price band inside a 90-day window — the classic
    double-charge / double-submit audit. The self-join keys on
    (customer, price band) — an equi-join whose buckets stay tiny for
    real data — with the day-gap as a post-filter, never a time-range
    join over the whole customer history. Banding is standard blocking:
    near-identical amounts straddling a $5k boundary are missed, the
    price columns are emitted for downstream exact comparison. The band
    width / day window are tuned so every fixture scale yields
    non-empty output — the prior exact-amount predicate matched
    nothing, a vacuous green (VERDICT r4 item 4). floor(x/5000) on the
    same parquet doubles is the identical IEEE op in both engines."""
    o = table(spark, sf_dir, "orders")
    band = lambda c: F.floor(F.col(c) / 5000).cast("long")  # noqa: E731
    a = o.select(
        F.col("o_orderkey").alias("key_a"), "o_custkey",
        F.col("o_totalprice").alias("price_a"), band("o_totalprice").alias("band_a"),
        F.to_date("o_orderdate").alias("da"),
    )
    b = o.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_custkey").alias("cb"),
        F.col("o_totalprice").alias("price_b"), band("o_totalprice").alias("band_b"),
        F.to_date("o_orderdate").alias("db"),
    )
    gap = F.datediff("db", "da").cast("long")
    return (
        a.join(
            b,
            (a.o_custkey == b.cb) & (a.band_a == b.band_b) & (a.key_a < b.key_b),
        )
        .filter(F.abs(gap) <= 90)
        .select("key_a", "key_b", "o_custkey", "price_a", "price_b", gap.alias("day_gap"))
    )


@op(
    "events_active_users",
    oracle="""
WITH dau AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1
),
mau AS (
  SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM events GROUP BY 1
),
wau AS (
  SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM events GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau,
       w.wau, m.mau,
       CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
FROM dau d
JOIN wau w ON date_trunc('week', d.day) = w.week
JOIN mau m ON date_trunc('month', d.day) = m.month
""",
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU and the DAU/MAU stickiness ratio — the engagement
    table every product review opens with. Three calendar-bucketed
    distinct-user counts (each one map-partial distinct aggregate),
    joined back onto the day grain; stickiness is one exact-integer
    division. Calendar WAU/MAU (not rolling) keeps every count a
    plain groupBy — the rolling variants need a per-day window over
    a (day × user) distinct projection, which at 100 TB is the same
    projection fed to a 7/30-day range frame."""
    # r11 (guide §6): the week/month join keys made Catalyst infer
    # isnotnull(date_trunc(...cast(ts)...)) — unpushable derived
    # expressions (PushedFilters stayed empty on all three scans). The
    # base-column guard is semantics-identical (date_trunc of a
    # non-null ts is never null; null-day rows were already dropped by
    # the inner joins) and pushes IsNotNull(ts) into every scan.
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    dau = ev.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    wau = ev.groupBy(F.date_trunc("week", "day").alias("week")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    mau = ev.groupBy(F.date_trunc("month", "day").alias("month")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    out = (
        dau.join(wau, F.date_trunc("week", F.col("day")) == F.col("week"))
        .join(mau, F.date_trunc("month", F.col("day")) == F.col("month"))
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau", "wau", "mau",
        (F.col("dau").cast("double") / F.col("mau").cast("double")).alias("stickiness"),
    )


@op(
    "events_rolling_active_7d",
    oracle="""
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
bounds AS (SELECT MAX(day) AS d1 FROM act),
covered AS (
  SELECT DISTINCT a.user_id, a.day + CAST(g.i AS INT) AS cday
  FROM act a, LATERAL (SELECT unnest(generate_series(0, 6)) AS i) g
),
valid AS (
  SELECT c.cday, c.user_id FROM covered c CROSS JOIN bounds b
  WHERE c.cday <= b.d1
    AND c.cday >= (SELECT MIN(day) FROM act)
)
SELECT strftime(CAST(cday AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d
FROM valid GROUP BY cday
""",
)
def events_rolling_active_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 7-day active users (the true WAU curve, not calendar
    weeks): a user active on day d counts as active on days d..d+6,
    so each distinct (user, day) activity explodes into ≤7 covered
    days and the rolling count is a plain distinct-count per covered
    day — the scatter formulation that turns a sliding-window
    distinct (not natively expressible) into groupBys. Cost is
    bounded at 7× the DISTINCT (user, day) projection (tiny next to
    the event log); days outside the observed range are clipped so
    the curve has no partially-covered tail fabricating decline."""
    act = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    b = act.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    covered = act.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
    ).select("user_id", F.date_add("day", F.col("i")).alias("cday")).distinct()
    valid = covered.crossJoin(F.broadcast(b)).filter(
        (F.col("cday") <= F.col("d1")) & (F.col("cday") >= F.col("d0"))
    )
    return valid.groupBy(
        F.date_format("cday", "yyyy-MM-dd").alias("day")
    ).agg(F.count_distinct("user_id").alias("active_7d"))


@op(
    "cohort_value_ltv",
    oracle=f"""
WITH first_seen AS (
  SELECT user_id, strftime(date_trunc('week', MIN(ts)), '%Y-%m-%d') AS cohort_week
  FROM events GROUP BY user_id
),
cell AS (
  SELECT f.cohort_week,
         strftime(date_trunc('week', e.ts), '%Y-%m-%d') AS activity_week,
         {sql_dsum("e.value")} AS week_value
  FROM events e JOIN first_seen f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT cohort_week, activity_week, week_value,
       {sql_dsum("week_value", over='''(
         PARTITION BY cohort_week ORDER BY activity_week
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')} AS cum_value
FROM cell
""",
)
def cohort_value_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: purchase value per (signup-week
    cohort × activity week) plus the running cumulative — the LTV
    curve finance reads off retention_cohort's monetary sibling. Both
    the cell sums and the cumulative run through decimal (the window
    re-sums the already-exact cell values, so cum_value is
    order-independent too). The cumulative window sorts the tiny
    cohort×week matrix, never the event log."""
    ev = table(spark, sf_dir, "events")
    week = lambda c: F.date_format(F.date_trunc("week", c), "yyyy-MM-dd")  # noqa: E731
    first = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    cell = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy("cohort_week", week(F.col("ts")).alias("activity_week"))
        .agg(dsum("value").alias("week_value"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("activity_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dsum("week_value", over=w)
    return cell.withColumn("cum_value", cum)


@op(
    "brand_share_trend",
    oracle=f"""
WITH rev AS (
  SELECT CAST(year(l.l_shipdate) AS BIGINT) AS ship_year, p.p_brand,
         {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS brand_rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         {sql_dsum("l_extendedprice * (1 - l_discount)")} AS year_rev
  FROM lineitem GROUP BY 1
)
SELECT r.ship_year, r.p_brand, r.brand_rev,
       r.brand_rev / t.year_rev AS share
FROM rev r JOIN tot t ON r.ship_year = t.ship_year
""",
)
def brand_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue share by ship year for a watched brand set — the
    market-share trend line. Brand revenue and the year total are both
    decimal-exact sums, so the share division sees identical doubles
    on both engines; the year-total table is years-bounded and
    broadcasts. At 100 TB the part join broadcasts the dim and the
    two aggregates map-combine — two passes over lineitem, or one
    with a grouping-sets rewrite when the scan dominates."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .groupBy(
            F.year("l_shipdate").cast("long").alias("ship_year"), "p_brand"
        )
        .agg(dsum(revenue).alias("brand_rev"))
    )
    tot = li.groupBy(F.year("l_shipdate").cast("long").alias("ship_year")).agg(
        dsum(revenue).alias("year_rev")
    )
    return (
        rev.join(F.broadcast(tot), "ship_year")
        .select(
            "ship_year", "p_brand", "brand_rev",
            (F.col("brand_rev") / F.col("year_rev")).alias("share"),
        )
    )


@op(
    "events_control_chart",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_err
  FROM events GROUP BY 1
),
base AS (
  SELECT CAST(SUM(n_err) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p_bar FROM daily
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.n, d.n_err,
       CAST(d.n_err AS DOUBLE) / CAST(d.n AS DOUBLE) AS p,
       b.p_bar,
       b.p_bar + 3 * sqrt(b.p_bar * (1 - b.p_bar) / d.n) AS ucl,
       CAST(d.n_err AS DOUBLE) / CAST(d.n AS DOUBLE)
         > b.p_bar + 3 * sqrt(b.p_bar * (1 - b.p_bar) / d.n) AS out_of_control
FROM daily d CROSS JOIN base b
""",
)
def events_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control (p-chart): daily error proportion
    against the 3σ upper control limit p̄ + 3·√(p̄(1−p̄)/n) — the
    alerting rule that distinguishes real incidents from sampling
    noise (a fixed threshold can't: small days are noisier). Every
    input is an exact integer; the only transcendental is sqrt, which
    IEEE 754 requires correctly rounded — so unlike ln/exp the limit
    is bit-identical across engines and the boolean flag cannot
    flicker at the boundary. One daily aggregate + a broadcast 1-row
    baseline."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
    )
    base = daily.agg(
        (F.sum("n_err").cast("double") / F.sum("n").cast("double")).alias("p_bar")
    )
    p = F.col("n_err").cast("double") / F.col("n").cast("double")
    ucl = F.col("p_bar") + 3 * F.sqrt(F.col("p_bar") * (1 - F.col("p_bar")) / F.col("n"))
    return (
        daily.crossJoin(F.broadcast(base))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n", "n_err", p.alias("p"), "p_bar",
            ucl.alias("ucl"), (p > ucl).alias("out_of_control"),
        )
    )


@op(
    "regression_price_vs_size",
    oracle=f"""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum("p_size", 4)} AS sx,
         {sql_dsum("p_retailprice", 4)} AS sy,
         {sql_dsum("p_size * p_size", 4)} AS sxx,
         {sql_dsum("p_size * p_retailprice", 4)} AS sxy
  FROM part
)
SELECT n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
FROM s
""",
)
def regression_price_vs_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple OLS fit (does part size predict retail price?) in closed
    form from the four mergeable power sums — the agg_corr_covar
    pattern extended to slope/intercept, instead of the builtins
    regr_slope/regr_intercept whose double accumulation is
    order-dependent on both engines. One map-combinable pass; the
    same five numbers drive an incremental re-fit when data arrives.
    Outputs rounded 8/6 decimals above residual division noise."""
    p = table(spark, sf_dir, "part")
    x, y = F.col("p_size"), F.col("p_retailprice")
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, 4).alias("sx"), dsum(y, 4).alias("sy"),
        dsum(x * x, 4).alias("sxx"), dsum(x * y, 4).alias("sxy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return s.select(
        n.cast("bigint").alias("n"),
        F.round(slope, 8).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


@op(
    "nation_trade_matrix",
    oracle=f"""
WITH flows AS (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS volume
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  GROUP BY 1, 2
)
SELECT a.supp_nation AS nation_a, a.cust_nation AS nation_b,
       a.volume AS export_ab,
       COALESCE(b.volume, 0) AS export_ba,
       CAST(CAST(a.volume AS DECIMAL(18,6))
            - CAST(COALESCE(b.volume, 0) AS DECIMAL(18,6)) AS DOUBLE) AS net_balance
FROM flows a
LEFT JOIN flows b ON a.supp_nation = b.cust_nation AND a.cust_nation = b.supp_nation
WHERE a.supp_nation < a.cust_nation OR b.supp_nation IS NULL
""",
)
def nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade matrix with NET balance: revenue flowing
    supplier-nation → customer-nation, self-joined with the reverse
    direction so each unordered pair appears once with both legs and
    their difference (Q7's volume query upgraded to the balance the
    trade economist actually wants). The flow table is
    nations²-bounded (≤625 rows), so the direction self-join is free;
    the heavy work is the one star join, dims broadcast. The net is a
    decimal-exact difference of two decimal-exact sums."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    ns = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flows = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("sk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("ck"))
        .groupBy("supp_nation", "cust_nation")
        .agg(dsum(rev).alias("volume"))
    )
    rev_b = flows.select(
        F.col("supp_nation").alias("b_supp"),
        F.col("cust_nation").alias("b_cust"),
        F.col("volume").alias("volume_b"),
    )
    j = flows.join(
        rev_b,
        (flows.supp_nation == rev_b.b_cust) & (flows.cust_nation == rev_b.b_supp),
        "left",
    )
    net = (
        F.col("volume").cast("decimal(18,6)")
        - F.coalesce(F.col("volume_b"), F.lit(0.0)).cast("decimal(18,6)")
    ).cast("double")
    return j.filter(
        (F.col("supp_nation") < F.col("cust_nation")) | F.col("b_supp").isNull()
    ).select(
        F.col("supp_nation").alias("nation_a"),
        F.col("cust_nation").alias("nation_b"),
        F.col("volume").alias("export_ab"),
        F.coalesce("volume_b", F.lit(0.0)).alias("export_ba"),
        net.alias("net_balance"),
    )


@op(
    "session_depth_distribution",
    oracle="""
WITH seq AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id,
         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
              PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
              > 1800000 THEN 1 ELSE 0 END AS brk
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM seq
),
depth AS (
  SELECT user_id, session_no, CAST(COUNT(*) AS BIGINT) AS depth
  FROM sess GROUP BY user_id, session_no
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM depth GROUP BY depth
""",
)
def session_depth_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram: sessionize on the 30-minute gap rule
    (lag + running break-sum, the pipeline_sessionize mechanics), then
    the distribution of events-per-session — the engagement-depth
    curve that separates bounce traffic from real usage. The lag and
    cumulative-sum windows share one (user_id, ms, event_id) sort;
    both downstream groupBys are map-combined. Output is
    depth-bounded (dozens of rows), exact integers end to end."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    seq = ev.select(
        "user_id", "event_id", F.unix_millis("ts").alias("ms")
    ).withColumn(
        "brk",
        F.when(
            F.col("ms") - F.lag("ms").over(w) > 1800000, 1
        ).otherwise(0),
    )
    sess = seq.withColumn(
        "session_no",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    depth = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("depth")
    )
    return depth.groupBy("depth").agg(F.count(F.lit(1)).alias("n_sessions"))


@op(
    "events_heatmap_hour_dow",
    oracle="""
SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases
FROM events GROUP BY 1, 2
""",
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The activity heatmap (ISO weekday × hour-of-day, total and
    purchase counts) — the first dashboard every traffic product
    ships. One map-combined aggregate to a ≤168-cell output; weekday
    and hour extraction agree across engines under the pinned UTC
    session (Spark weekday()+1 == DuckDB isodow, pinned in fn_date)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
    )


@op(
    "lineitem_band_crosstab",
    oracle=f"""
SELECT CASE WHEN l_discount < 0.03 THEN 'low' WHEN l_discount < 0.07 THEN 'mid' ELSE 'high' END AS discount_band,
       CASE WHEN l_tax < 0.03 THEN 'low' WHEN l_tax < 0.06 THEN 'mid' ELSE 'high' END AS tax_band,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum("l_extendedprice")} AS revenue
FROM lineitem GROUP BY 1, 2
""",
)
def lineitem_band_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-policy cross-tab: discount band × tax band with counts
    and decimal-exact revenue — the 9-cell grid a pricing analyst
    reads before touching either lever. Band edges are exact decimal
    literals compared against exact parquet doubles, so banding is
    engine-identical; one map-combined aggregate."""
    li = table(spark, sf_dir, "lineitem")
    disc_band = (
        F.when(F.col("l_discount") < 0.03, "low")
        .when(F.col("l_discount") < 0.07, "mid")
        .otherwise("high")
    )
    tax_band = (
        F.when(F.col("l_tax") < 0.03, "low")
        .when(F.col("l_tax") < 0.06, "mid")
        .otherwise("high")
    )
    return li.groupBy(
        disc_band.alias("discount_band"), tax_band.alias("tax_band")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("revenue"),
    )


@op(
    "customer_balance_deciles",
    oracle=f"""
WITH ranked AS (
  SELECT c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer WHERE c_acctbal IS NOT NULL
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi,
       {sql_dsum("c_acctbal")} AS total_bal
FROM ranked GROUP BY decile
""",
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance decile table: boundaries, counts and
    decimal-exact mass per decile — the wealth-distribution summary
    (and the cutpoint source for downstream band features). ntile's
    ORDER BY carries the customer key so equal balances assign
    deterministically; the decile assignment runs through the
    two-phase global_ntile bucketed on a 100-wide balance band
    (bounded summary, parallel per-band ranking — the customer dim is
    dim-sized today but billions of rows at 100 TB, so it gets the
    same no-single-partition treatment as a fact). Deciles are
    defined over KNOWN balances only (IS NOT NULL on both sides) —
    otherwise each engine's default null placement would put unknown
    balances at opposite ends of the ranking."""
    from lambda_hive_spark.scale_windows import global_ntile

    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal").isNotNull())
    ranked = global_ntile(
        c.select("c_acctbal", "c_custkey"),
        10,
        [F.col("c_acctbal"), F.col("c_custkey")],
        [(F.floor(F.col("c_acctbal") / 100), "asc")],
        "decile",
    ).select("c_acctbal", "decile")
    return ranked.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
        dsum("c_acctbal").alias("total_bal"),
    )


@op(
    "retention_day_n",
    oracle="""
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
),
activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
flags AS (
  SELECT f.user_id, f.d0,
         MAX(CASE WHEN a.day = f.d0 + 1 THEN 1 ELSE 0 END) AS came_d1,
         MAX(CASE WHEN a.day > f.d0 AND a.day <= f.d0 + 7 THEN 1 ELSE 0 END) AS came_w1
  FROM first_seen f JOIN activity a ON f.user_id = a.user_id
  GROUP BY f.user_id, f.d0
)
SELECT strftime(d0, '%Y-%m-%d') AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_new_users,
       CAST(SUM(came_d1) AS BIGINT) AS n_d1,
       CAST(SUM(came_w1) AS BIGINT) AS n_w1,
       CAST(SUM(came_d1) AS DOUBLE) / COUNT(*) AS d1_rate,
       CAST(SUM(came_w1) AS DOUBLE) / COUNT(*) AS w1_rate
FROM flags GROUP BY d0
""",
)
def retention_day_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-1 / week-1 retention per acquisition-day cohort: did each
    day's NEW users come back the next day, and within seven? — the
    growth team's headline metric (retention_cohort gives the full
    triangle; this is the two numbers leadership tracks). Per-user
    flags are MAX over the bounded activity join; rates are
    exact-integer ratios. The per-user dim is one row per user —
    fact-scaled, so the join is unhinted; AQE broadcasts it only
    while it fits."""
    ev = table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = act.groupBy("user_id").agg(F.min("day").alias("d0"))
    flags = (
        act.join(first, "user_id")
        .groupBy("user_id", "d0")
        .agg(
            F.max(
                F.when(F.col("day") == F.date_add("d0", 1), 1).otherwise(0)
            ).alias("came_d1"),
            F.max(
                F.when(
                    (F.col("day") > F.col("d0"))
                    & (F.col("day") <= F.date_add("d0", 7)),
                    1,
                ).otherwise(0)
            ).alias("came_w1"),
        )
    )
    n = F.count(F.lit(1))
    return flags.groupBy(F.date_format("d0", "yyyy-MM-dd").alias("cohort_day")).agg(
        n.alias("n_new_users"),
        F.sum("came_d1").cast("long").alias("n_d1"),
        F.sum("came_w1").cast("long").alias("n_w1"),
        (F.sum("came_d1").cast("double") / n).alias("d1_rate"),
        (F.sum("came_w1").cast("double") / n).alias("w1_rate"),
    )


@op(
    "part_price_premium",
    oracle=f"""
WITH per_type AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum("p_retailprice")} AS type_total
  FROM part GROUP BY p_type
),
overall AS (
  SELECT {sql_dsum("p_retailprice")} AS all_total,
         CAST(COUNT(*) AS BIGINT) AS all_n
  FROM part
)
SELECT t.p_type, t.n,
       round((t.type_total / t.n) / (o.all_total / o.all_n), 8) AS price_premium
FROM per_type t CROSS JOIN overall o
""",
)
def part_price_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price premium per part type: type mean / corpus mean — above
    1.0 commands a premium. Both means are decimal-exact sums over
    exact counts; their ratio is two IEEE divisions, rounded at 1e-8
    well above division noise. One aggregate + a broadcast scalar."""
    p = table(spark, sf_dir, "part")
    per_type = p.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("p_retailprice").alias("type_total")
    )
    overall = p.agg(
        dsum("p_retailprice").alias("all_total"), F.count(F.lit(1)).alias("all_n")
    )
    prem = (F.col("type_total") / F.col("n")) / (F.col("all_total") / F.col("all_n"))
    return per_type.crossJoin(F.broadcast(overall)).select(
        "p_type", "n", F.round(prem, 8).alias("price_premium")
    )


_BASKET_MIN_SUPPORT = 5  # min co-occurring orders for a pair to report


@op(
    "basket_pair_lift",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
item_freq AS (
  SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT p.part_a, p.part_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       CAST(fa.n_item AS BIGINT) AS n_a,
       CAST(fb.n_item AS BIGINT) AS n_b,
       CAST(p.n_both AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
         / (CAST(fa.n_item AS DOUBLE) * CAST(fb.n_item AS DOUBLE)) AS lift
FROM pairs p
JOIN item_freq fa ON fa.l_partkey = p.part_a
JOIN item_freq fb ON fb.l_partkey = p.part_b
CROSS JOIN n
WHERE p.n_both >= {_BASKET_MIN_SUPPORT}
""",
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining with lift: part pairs co-purchased in
    >= {min_support} orders, scored by lift = P(a,b) / (P(a)·P(b)) —
    the association-rule primitive behind co-occurrence features and
    recommendation candidates.

    Scale shape: ONE shuffle of the item set by order key, then pair
    expansion MAP-SIDE from each order's collected item array
    (helpers.sorted_pairs over the sorted array) — pairs per order is
    (basket size choose 2), bounded by real basket sizes, and the
    quadratic term never crosses the wire unaggregated: the map-side
    partial aggregation collapses pairs before the (part_a, part_b)
    shuffle. A self-join formulation would shuffle the item set twice
    and build join hash tables; the array form is the standard
    FP-growth-adjacent co-occurrence pass. Per-item frequencies are
    FULL-part-vocabulary sized (one row per distinct part ever sold),
    so they are NOT force-broadcast — AQE broadcasts them while they
    fit its threshold and falls back to a shuffle join at vocabulary
    scales where a forced broadcast would OOM the driver (ADVICE r6);
    lift is exact-integer counts in one IEEE multiply/divide per
    output row."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    # n_orders as a broadcast 1-row aggregate (the oracle's CROSS JOIN
    # n), not an eager .count(): keeps the op lazy — no Spark job at
    # plan-construction time — and lets the scalar ride the plan
    n_tot = items.agg(
        F.count_distinct("l_orderkey").cast("double").alias("n_orders_d")
    )

    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_partkey")).alias("parts")
    )
    pairs = (
        sorted_pairs(baskets, "parts", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _BASKET_MIN_SUPPORT)
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    fa = freq.withColumnsRenamed({"l_partkey": "part_a", "n_item": "n_a"})
    fb = freq.withColumnsRenamed({"l_partkey": "part_b", "n_item": "n_b"})
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.col("n_both").cast("double") * F.col("n_orders_d")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )
