"""Storage-layout & pipeline-maintenance operators: bucketed
co-located joins, upsert/merge, small-file compaction, stratified
sampling. These are the operational patterns that decide whether a
100 TB deployment is fast (bucketing kills the big-join shuffle;
compaction keeps scan task counts sane) — expressed, like everything
else, as declarative Spark plans.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark.helpers import dsum, hier_exact_agg, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op
from lambda_hive_spark.scratch import mark_scratch_fresh, named as _scratch, scratch_stale

_N_BUCKETS = 8


def sf_slug(sf_dir: str) -> str:
    """Catalog-safe slug of an sf_dir basename (shared with
    tests/test_plans.py so the table-name derivation cannot drift —
    ADVICE r7: the test's inline reconstruction missed the dash
    replacement and broke on dash-named corpora)."""
    return os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")


@op(
    "join_bucket_colocated",
    oracle=f"""
SELECT o_orderkey, COUNT(*) AS n_items, {sql_dsum("l_extendedprice")} AS order_value
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey
""",
    tags=("side_effect",),
)
def join_bucket_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables are saved bucketed
    (+sorted) on the join key with the same bucket count, so the
    SortMergeJoin — and the groupBy on the same key after it — run
    with ZERO exchanges (asserted in tests/test_plans.py). THE answer
    to the recurring big fact-fact join at 100 TB: pay the shuffle
    once at write time, never at read time. `hint("merge")` pins SMJ
    so the plan shape is stable across sf sizes."""
    for tbl in ("orders_bucketed", "lineitem_bucketed"):
        # a fresh session's in-memory catalog forgets managed tables but
        # their warehouse dirs survive — drop both metadata and location
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        loc = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), tbl
        )
        shutil.rmtree(loc, ignore_errors=True)
    table(spark, sf_dir, "orders").write.bucketBy(_N_BUCKETS, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").format("parquet").saveAsTable("orders_bucketed")
    table(spark, sf_dir, "lineitem").write.bucketBy(_N_BUCKETS, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").format("parquet").saveAsTable("lineitem_bucketed")
    o = spark.table("orders_bucketed").hint("merge")
    li = spark.table("lineitem_bucketed")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice").alias("order_value"))
    )


@op(
    "join_bucket_colocated_read",
    oracle=f"""
SELECT o_orderkey, COUNT(*) AS n_items, {sql_dsum("l_extendedprice")} AS order_value
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey
""",
    tags=("side_effect",),
)
def join_bucket_colocated_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ path of the bucketed co-located join: identical query to
    join_bucket_colocated, but the bucketed layout is built at most
    once per (session, source fingerprint) and every later call pays
    ONLY the zero-exchange SortMergeJoin — the steady-state cost a
    100 TB warehouse actually sees, where the bucket shuffle was paid
    at ingest and thousands of queries amortize it. The build twin
    times write+read together (honest for a one-shot); this twin is
    what the scale bench records as the fact-fact alternative to the
    shuffle join (VERDICT r6 item 4). Freshness = (size, mtime) stamp
    of the source parquet, same contract as the bench scale corpus.

    Bucket count is SIZE-AWARE (identical on both sides — required for
    co-location): one bucket per ~16 MB of compressed source, clamped
    to [8, 64]. A fixed 8 was measured 10.8 s at the 100x tier (60M
    lineitem rows in 8 tasks on 32 cores — bucketing capped the
    parallelism it was supposed to buy); 16 MB compressed is ~2-3M
    lineitem rows ≈ the 64-128 MB in-memory task sizing the classic
    guidance targets (the clone-replicated bench corpus compresses
    ~4x better than organic data, so a 64 MB rule under-buckets it).
    On a real cluster the same rule scales bucket count with the
    table — the standard warehouse sizing discipline."""

    def _src_bytes(path: str) -> int:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith("_") and not f.startswith(".")
            )
        return os.path.getsize(path)

    biggest = max(
        _src_bytes(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("orders", "lineitem")
    )
    n_buckets = int(min(64, max(_N_BUCKETS, biggest // (16 << 20))))
    names = {}
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"{tbl}_bro_{sf_slug(sf_dir)}"
        names[tbl] = name
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        loc = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), name
        )
        # rebuild when the source changed OR this session's catalog has
        # no binding (a surviving dir without catalog metadata cannot be
        # re-attached with its bucket spec intact — rebuild is the only
        # path that preserves the zero-exchange guarantee)
        if scratch_stale(loc, src) or not spark.catalog.tableExists(name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(loc, ignore_errors=True)
            # Repartition by the bucket key BEFORE the bucketed write:
            # Spark's bucket id and repartition both use Murmur3, so
            # each write task receives exactly one bucket and holds ONE
            # spillable sorter + ONE open writer. Without this, every
            # source task sorts rows for ALL buckets concurrently —
            # 32 tasks x 20 buckets of sorter pages exhausted the
            # execution-memory pool mid-bench at the 100x tier
            # (UNABLE_TO_ACQUIRE_MEMORY). This is also the honest
            # ingest story: the build step IS the paid-once shuffle.
            table(spark, sf_dir, tbl).repartition(n_buckets, F.col(key)).write.bucketBy(
                n_buckets, key
            ).sortBy(key).mode("overwrite").format("parquet").saveAsTable(name)
            mark_scratch_fresh(loc, src)
    o = spark.table(names["orders"]).hint("merge")
    li = spark.table(names["lineitem"])
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("order_value"),
        )
    )


@op(
    "merge_upsert",
    oracle="""
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice, 'P' AS o_orderstatus
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT b.o_orderkey,
       COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
       COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
       COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus
FROM orders b LEFT JOIN updates u USING (o_orderkey)
""",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert without a table format: updates win per key via
    outer join + COALESCE. At 100 TB both sides hash-partition on the
    merge key (or use the bucketed layout above) and the rewrite is
    one co-partitioned join — the pattern under every Delta/Iceberg
    MERGE. The update set here is deterministic (keys ≡ 0 mod 10,
    price bumped 10%, status→'P')."""
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 1.1).alias("u_totalprice"),
        F.lit("P").alias("u_orderstatus"),
    )
    u = updates.withColumnsRenamed({"o_custkey": "u_custkey"})
    return base.join(u, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce("u_custkey", "o_custkey").alias("o_custkey"),
        F.coalesce("u_totalprice", "o_totalprice").alias("o_totalprice"),
        F.coalesce("u_orderstatus", "o_orderstatus").alias("o_orderstatus"),
    )


_TARGET_FILE_ROWS = 50_000


@op(
    "maintenance_compact",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CEIL(COUNT(*) / {_TARGET_FILE_ROWS}.0) AS BIGINT) AS files_after,
       TRUE AS rows_preserved,
       TRUE AS files_reduced
FROM events
""",
    tags=("side_effect",),
)
def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: scatter events into 64 tiny files (the
    pathological ingest pattern), then rewrite toward a target rows-
    per-file. At 100 TB this runs per partition-directory; without it,
    scan task counts explode and listing becomes the bottleneck.

    Oracle contract (VERDICT r3 item 2): the compacted file count is
    deterministic — exactly ceil(rows / target) files, because
    coalesce(n) with ≥n input partitions yields exactly n write tasks
    — so the oracle recomputes it from COUNT(*) alone and asserts row
    conservation and actual shrinkage as booleans."""
    scattered = _scratch("compact_in")
    compacted = _scratch("compact_out")
    ev = table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(scattered)
    small = spark.read.parquet(scattered)
    n_rows = small.count()
    n_out = max(1, -(-n_rows // _TARGET_FILE_ROWS))  # ceil
    small.coalesce(n_out).write.mode("overwrite").parquet(compacted)

    def _count_parquet(d: str) -> int:
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    back = spark.read.parquet(compacted)
    return spark.createDataFrame(
        [
            (
                n_rows,
                _count_parquet(compacted),
                back.count() == n_rows,
                _count_parquet(compacted) < _count_parquet(scattered),
            )
        ],
        "n_rows long, files_after long, rows_preserved boolean, files_reduced boolean",
    )


_STRATA = {"click": 0.1, "view": 0.1, "signup": 1.0, "purchase": 1.0, "error": 0.5}


def _frac_hex(p: float) -> str:
    """Lowercase 8-hex-digit threshold floor(p·16^8), with p=1.0
    mapping to a sentinel above every md5 prefix (keep-all)."""
    return "g" if p >= 1.0 else format(int(p * 16**8), "08x")


@op(
    "sample_stratified",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled
FROM events
WHERE substr(md5(event_id::VARCHAR), 1, 8) <
      CASE event_type WHEN 'click' THEN '19999999' WHEN 'view' THEN '19999999'
                      WHEN 'error' THEN '80000000' ELSE 'g' END
GROUP BY event_type
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample — downsample hot event types, keep rare ones
    whole (the rebalancing step before expensive per-row scoring) —
    determinized (VERDICT r3 item 2): per-stratum keep decisions come
    from md5(event_id) against the stratum's hex threshold instead of
    sampleBy's per-partition RNG, so both engines keep the identical
    row set. 'g' sorts above every hex digit → keep-all strata.
    Scale: per-row projection-filter, no shuffle until the count."""
    ev = table(spark, sf_dir, "events")
    thr = F.when(F.lit(False), F.lit(""))
    for etype, p in _STRATA.items():
        thr = thr.when(F.col("event_type") == etype, F.lit(_frac_hex(p)))
    key = F.substring(F.md5(F.col("event_id").cast("string")), 1, 8)
    return (
        ev.filter(key < thr.otherwise(F.lit("g")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@op(
    "maintenance_cluster_by",
    oracle=f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum("value", 2)} AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
GROUP BY 1
""",
    tags=("side_effect",),
)
def maintenance_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-cluster the fact table on its hottest filter column
    (repartitionByRange(ts) + sortWithinPartitions(ts) → parquet): a
    narrow time-slice query then touches only the files/row-groups
    whose ts min/max overlap the slice — parquet footer stats make the
    skip free. THE layout lever for time-windowed queries at 100 TB:
    same bytes, reorganized, 100× less IO for a 1% time slice. The op
    rewrites, queries the slice through the clustered copy, and the
    oracle recomputes from the raw table — proving reorganization
    changed nothing semantically. Clustering effectiveness itself is
    asserted in tests (each output file covers a disjoint ~1/16 ts
    range)."""
    clustered = _scratch(f"events_clustered_{os.path.basename(sf_dir.rstrip('/'))}")
    fixture = os.path.join(sf_dir, "events.parquet")
    if scratch_stale(clustered, fixture):
        ev = table(spark, sf_dir, "events")
        # INT96 (Spark's legacy hive-compat timestamp encoding) carries
        # NO min/max statistics, which silently disables the very
        # row-group skipping this op exists to enable — write micros.
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            (
                ev.repartitionByRange(16, "ts")
                .sortWithinPartitions("ts")
                .write.mode("overwrite")
                .parquet(clustered)
            )
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
        mark_scratch_fresh(clustered, fixture)
    c = spark.read.parquet(clustered)
    sliced = c.filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-13 00:00:00").cast("timestamp"))
    )
    return sliced.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", 2).alias("total_value"),
    )


def _z_interleave(a: str, b: str, bits: int = 8) -> str:
    """Engine-portable Morton/Z-order bit interleave of two non-negative
    ints as a SQL expression string (`>>`/`&` parse identically in
    Spark 4 and DuckDB; the weight is a multiply, not `<<`, to keep
    precedence unambiguous without extra parens)."""
    terms = []
    for i in range(bits):
        terms.append(f"(((({a}) >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"(((({b}) >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


# Align bit widths before interleaving: ub spans 8 bits (0..255) but
# day-of-month only 5 (1..31). Unbalanced widths make the wider
# dimension's high bits dominate the curve — effectively a linear sort
# on ub with no dy locality (observed: mean per-file dy span 20/29).
# Scaling dy by 8 (<<3) gives both dimensions 8 significant bits.
_Z_EXPR = _z_interleave("ub", "dy * 8")


@op(
    "maintenance_zorder",
    oracle=f"""
WITH z AS (
  SELECT value, user_id % 256 AS ub,
         CAST(EXTRACT(day FROM ts) AS BIGINT) AS dy
  FROM events
),
zz AS (SELECT value, ub, dy, {_Z_EXPR} AS zval FROM z)
SELECT dy, CAST(COUNT(*) AS BIGINT) AS n,
       {{dsum}} AS total_value,
       CAST(MIN(zval) AS BIGINT) AS zmin, CAST(MAX(zval) AS BIGINT) AS zmax
FROM zz
WHERE ub BETWEEN 3 AND 10 AND dy BETWEEN 5 AND 12
GROUP BY dy
""".replace("{dsum}", sql_dsum("value", 2)),
    tags=("side_effect",),
)
def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering: interleave the bits of the two hottest
    filter columns (user bucket, day-of-month) into a Morton code,
    range-cluster the table on it, and serve a 2-D box query from the
    clustered copy. Unlike linear clustering (maintenance_cluster_by),
    which makes ONE dimension skippable and leaves the other at full
    range per file, the Z-curve keeps BOTH dimensions' per-file
    min/max narrow — the standard multi-dimensional data-skipping
    layout (Delta/Iceberg OPTIMIZE ZORDER) built here from parquet +
    repartitionByRange alone. The oracle recomputes the box query and
    the z-values from the raw table, proving the rewrite changed
    nothing and the bit-interleave math is engine-exact."""
    ub = (F.col("user_id") % 256).alias("ub")
    dy = F.dayofmonth("ts").cast("long").alias("dy")
    clustered = _scratch(f"events_zorder_{os.path.basename(sf_dir.rstrip('/'))}")
    fixture = os.path.join(sf_dir, "events.parquet")
    if scratch_stale(clustered, fixture):
        ev = table(spark, sf_dir, "events").select(
            "value", ub, dy
        ).withColumn("zval", F.expr(_Z_EXPR))
        (
            ev.repartitionByRange(16, "zval")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .parquet(clustered)
        )
        mark_scratch_fresh(clustered, fixture)
    c = spark.read.parquet(clustered)
    box = c.filter(F.col("ub").between(3, 10) & F.col("dy").between(5, 12))
    return box.groupBy("dy").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", 2).alias("total_value"),
        F.min("zval").alias("zmin"),
        F.max("zval").alias("zmax"),
    )


@op(
    "maintenance_analyze_stats",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS rowcount_exact,
       TRUE AS key_distinct_ok,
       TRUE AS key_nulls_exact,
       TRUE AS status_distinct_ok
FROM orders
""",
    tags=("side_effect",),
)
def maintenance_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS (table + column level) and
    read the recorded stats back out of the catalog — the maintenance
    step that feeds Catalyst's cost-based optimizer (join reordering
    and broadcast decisions at 100 TB hinge on these numbers being
    present and fresh). The catalog numbers are engine-internal, so
    the op publishes them as an accuracy CONTRACT the oracle can gate
    (VERDICT r3 item 2): the analyzed rowCount and null counts must be
    EXACT, and the HLL++ ndv estimates within 5·rsd (rsd 0.05 → 25%)
    of the true distinct counts — a catalog that ever records garbage
    stats hash-mismatches the TRUE row."""
    tbl = f"orders_stats_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    # A fresh session's in-memory catalog forgets managed tables but
    # their warehouse dirs survive — drop both metadata and location
    # (same hazard join_bucket_colocated handles).
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(
        os.path.join(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), tbl),
        ignore_errors=True,
    )
    o = table(spark, sf_dir, "orders")
    o.write.mode("overwrite").saveAsTable(tbl)
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_orderstatus"
    )
    # exact ground truth (one aggregate over the fixture)
    truth = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderkey").alias("key_d"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("key_n"),
        F.count_distinct("o_orderstatus").alias("st_d"),
    ).collect()[0]  # bounded: one row of scalars
    det = spark.sql(f"DESCRIBE EXTENDED {tbl}").filter(F.col("col_name") == "Statistics")
    stats_str = det.collect()[0]["data_type"] if det.count() else ""
    m = re.search(r"(\d+) rows", stats_str)
    cat_rows = int(m.group(1)) if m else -1
    kv = {
        r["info_name"]: r["info_value"]
        for r in spark.sql(f"DESCRIBE EXTENDED {tbl} o_orderkey").collect()
    }
    sv = {
        r["info_name"]: r["info_value"]
        for r in spark.sql(f"DESCRIBE EXTENDED {tbl} o_orderstatus").collect()
    }

    def _within(est: int, exact: int, tol: float = 0.25) -> bool:
        return abs(est - exact) <= tol * max(exact, 1)

    return spark.createDataFrame(
        [
            (
                truth["n"],
                cat_rows == truth["n"],
                _within(int(kv.get("distinct_count", "-1")), truth["key_d"]),
                int(kv.get("num_nulls", "-1")) == truth["key_n"],
                _within(int(sv.get("distinct_count", "-1")), truth["st_d"]),
            )
        ],
        "n_rows long, rowcount_exact boolean, key_distinct_ok boolean,"
        " key_nulls_exact boolean, status_distinct_ok boolean",
    )


@op(
    "maintenance_cache_reuse",
    oracle=f"""
SELECT 'by_segment' AS cut, c_mktsegment AS key,
       CAST(COUNT(*) AS BIGINT) AS n, {sql_dsum('c_acctbal')} AS total_bal
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT 'rich_by_nation', CAST(c_nationkey AS VARCHAR),
       CAST(COUNT(*) AS BIGINT), {sql_dsum('c_acctbal')}
FROM customer WHERE c_acctbal > 5000
GROUP BY c_nationkey
""",
    tags=("side_effect",),
)
def maintenance_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cache reuse: pin the hot dimension in executor memory
    (`.cache()`), then serve two different aggregates from the SAME
    in-memory columnar copy — the second query's scan is an
    InMemoryTableScan, not a second parquet read (plan-asserted in
    tests). This is the dashboard-serving pattern: one warm dim, many
    cuts. The cached entity is the wall-clock-bounded dimension, never
    a fact table — at 100 TB caching facts evicts itself uselessly,
    caching dims is free. Results are semantically cache-invisible,
    which is exactly what the oracle certifies."""
    c = table(spark, sf_dir, "customer").cache()
    by_segment = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), dsum("c_acctbal").alias("total_bal")
    ).select(
        F.lit("by_segment").alias("cut"), F.col("c_mktsegment").alias("key"), "n", "total_bal"
    )
    rich_by_nation = (
        c.filter(F.col("c_acctbal") > 5000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), dsum("c_acctbal").alias("total_bal"))
        .select(
            F.lit("rich_by_nation").alias("cut"),
            F.col("c_nationkey").cast("string").alias("key"), "n", "total_bal",
        )
    )
    return by_segment.unionByName(rich_by_nation)


@op(
    "join_star_bucketed",
    oracle=f"""
SELECT r.r_name, n.n_name, {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
""",
    tags=("side_effect",),
)
def join_star_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full join_multiway star (TPC-H-Q5 shape, identical oracle)
    over the MAINTAINED bucketed fact layout — the steady-state plan a
    100 TB warehouse actually runs, registered as a driver-gated op so
    the layout-aware formulation is hash-verified, not just
    self-measured (BASELINE §7 addendum 14, re-measured r9 addendum
    15: 3.3 s vs the raw star's 3.9 s interleaved at the 100× tier).

    Plan shape: orders/lineitem come from the bucketed tables
    join_bucket_colocated_read maintains (built at most once per
    source fingerprint — ensured by calling it), so the orderkey fact
    join is a co-located SortMergeJoin straight off the scans with the
    date filter pushed into the bucketed orders scan; the dims join
    the fact stream directly (customer carries join_multiway's
    size-aware shuffle_hash hint for the day it outgrows broadcast)
    and the single hash exchange carries hier_exact_agg's
    per-(group, partition) partials. An alternative that collapses the
    fact stream to per-custkey decimal partials BEFORE the dim joins
    was measured and REJECTED (r9, interleaved): 6.2 s vs 3.3 s —
    aggregating 30M rows into 1.5M custkey groups costs more than
    broadcasting the 150k-row customer dim and aggregating straight to
    the 150 output groups; it becomes the right plan only when
    customer itself is fact-sized."""
    from lambda_hive_spark.io import table_bytes
    from lambda_hive_spark.session import _BROADCAST_THRESHOLD

    join_bucket_colocated_read(spark, sf_dir)  # ensure the layout
    o = spark.table(f"orders_bro_{sf_slug(sf_dir)}").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = spark.table(f"lineitem_bro_{sf_slug(sf_dir)}").hint("merge")
    c = table(spark, sf_dir, "customer")
    if table_bytes(sf_dir, "customer") > int(_BROADCAST_THRESHOLD):
        c = c.hint("shuffle_hash")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return hier_exact_agg(
        joined,
        ["r_name", "n_name"],
        sums=[("revenue", "l_extendedprice * (1 - l_discount)")],
    )
