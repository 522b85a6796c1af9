"""Lakehouse table-layer operators (lambda_hive_spark/lakehouse.py).

Drive the commit-log/snapshot/MERGE protocol end-to-end through the
driver's DuckDB hash gate: each op builds a real lake table in scratch
from the round's fixtures, performs versioned commits against it, and
returns a DataFrame whose values the oracle reproduces relationally —
so the ACID plumbing (atomic manifest publish, stats-pruned
copy-on-write MERGE, snapshot-pinned reads) is value-verified, not
just unit-tested (tests/test_lakehouse.py covers the concurrency and
retention properties no batch oracle can express).

Ops rebuild their table from scratch on every call: cheap at fixture
scale, and it makes reruns deterministic with zero staleness logic.
Scratch paths are keyed by the sf dir so cross-scale sweeps don't
collide (the driver and verify sweeps run ops serially).

Reference file:line: N/A — empty reference dir (SURVEY.md §0); the
protocol follows the publicly documented Delta/Iceberg commit-log
design (see lakehouse.py module doc).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark import catalog as cat
from lambda_hive_spark import lakehouse as lh
from lambda_hive_spark.helpers import dbl, dec, dot, dsum, sql_dot, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.operators.extras import (
    IVF_ASSIGN_CTES,
    K_NN,
    N_PROBE,
    assign_cells,
    ivf_index,
    nearest_cells,
)
from lambda_hive_spark.registry import op
from lambda_hive_spark.scratch import fresh
from lambda_hive_spark.streaming import core


def _fresh_table_dir(name: str, sf_dir: str) -> str:
    return fresh(f"lake_{name}_{os.path.basename(sf_dir.rstrip('/'))}")


@op(
    "lake_merge_upsert",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
FROM orders
UNION ALL
SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders) AS o_orderkey, o_totalprice
FROM orders WHERE o_orderkey % 97 = 0
""",
    tags=("side_effect",),
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE through the lake table layer: orders lands as a keyed
    lake table, then one upsert batch both UPDATES (every 10th key:
    price doubled) and INSERTS (every 97th key re-keyed past the max).
    The read-back of the new snapshot must equal the purely relational
    oracle — proving the copy-on-write rewrite dropped exactly the
    matched rows, carried every untouched file by reference, and the
    inserted keys landed once. File-level stats pruning is asserted
    structurally in tests/test_lakehouse.py; here the VALUES gate it.

    Scale: the updates batch is broadcast into the anti-join (a MERGE
    batch is bounded; the table is not), and only key-range-
    intersecting files are rewritten — at 100 TB this is "rewrite the
    touched partition", never "rewrite the table"."""
    path = _fresh_table_dir("merge", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")

    shift = base.agg(F.max("o_orderkey") + 1).collect()[0][0]
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(
            base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(shift)
            )
        )
    )
    lh.merge_upsert(spark, path, updates)
    return lh.read(spark, path)


@op(
    "lake_time_travel",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
""",
    tags=("side_effect",),
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel: version 1 lands the even
    orderkeys, version 2 appends the odd ones, and the op reads
    VERSION 1 — after the newer commit exists. Matching the oracle
    (even keys only) proves the v1 manifest still resolves to exactly
    its original immutable files and the append created a new version
    instead of mutating the old one. The head read is additionally
    checked in-op (row count = full table) so a broken append cannot
    pass by accident."""
    path = _fresh_table_dir("tt", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(spark, path, base.filter(F.col("o_orderkey") % 2 == 0), key="o_orderkey")
    lh.append(spark, path, base.filter(F.col("o_orderkey") % 2 == 1))
    assert lh.read(spark, path).count() == base.count()  # head sees both
    return lh.read(spark, path, version=1)


@op(
    "lake_schema_evolution",
    oracle="""
SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_totalprice,
       CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END AS o_channel
FROM orders WHERE o_orderkey % 2 = 1
""",
    tags=("side_effect",),
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution as a versioned commit: version 1 lands the
    even orderkeys (2 columns), version 2 appends the odd ones with a
    NEW o_channel column via append(merge_schema=True). The head read
    must null-fill o_channel for every v1 row (the oracle's CAST(NULL)
    branch) and carry the appended values for v2 rows — proving the
    evolved schema is resolved from the MANIFEST (v1's files were
    written before the column existed and are carried by reference,
    never rewritten). A plain append of the widened batch must refuse
    (SchemaMismatch), driven in-op so silent-drift protection cannot
    rot unnoticed.

    Scale: schema authority is the commit log — read planning is one
    manifest fetch, never a per-file footer merge (mergeSchema is a
    listing-scale job at 100 TB); evolution itself rewrites ZERO data
    files."""
    path = _fresh_table_dir("evolve", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(spark, path, base.filter(F.col("o_orderkey") % 2 == 0), key="o_orderkey")
    widened = base.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_channel",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("web")).otherwise(F.lit("store")),
    )
    try:
        lh.append(spark, path, widened)
        raise AssertionError("silent schema drift was accepted")
    except lh.SchemaMismatch:
        pass
    lh.append(spark, path, widened, merge_schema=True)
    return lh.read(spark, path)


@op(
    "lake_stats_pruned_scan",
    oracle="""
WITH b AS (
  SELECT MIN(o_orderkey) AS lo,
         MIN(o_orderkey) + CAST(FLOOR((MAX(o_orderkey) - MIN(o_orderkey)) / 8) AS BIGINT) AS hi
  FROM orders
)
SELECT o_orderkey, o_totalprice
FROM orders, b
WHERE o_orderkey BETWEEN b.lo AND b.hi
""",
    tags=("side_effect",),
)
def lake_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side file skipping: orders lands range-partitioned into 8
    files (disjoint key ranges in the manifest's footer stats), then a
    scan for the lowest ~1/8th of the key range plans ≤3 of the 8
    files from ONE manifest read — asserted structurally in-op — and
    the residual row filter finishes the predicate. Values must equal
    the plain relational BETWEEN, proving skipped files contained no
    qualifying rows (stats-correctness, not just speed).

    Scale: this is the read-side twin of the stats-pruned MERGE — at
    100 TB a selective key predicate touches the intersecting files
    only, decided driver-side from the manifest before Spark lists or
    opens anything (no footer fetch per file, no directory listing)."""
    path = _fresh_table_dir("prune", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    mn, mx = base.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    lo, hi = mn, mn + (mx - mn) // 8
    n_total = len(lh.read_manifest(path)["files"])
    n_planned = len(lh.plan_files(path, key_min=lo, key_max=hi))
    assert n_planned < n_total, f"no files skipped ({n_planned}/{n_total})"
    return lh.scan(spark, path, key_min=lo, key_max=hi)


@op(
    "lake_incremental_read",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
""",
    tags=("side_effect",),
)
def lake_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption from the commit log: three appends land
    orders in thirds (keys ≡0, ≡1, ≡2 mod 3 → versions 1..3), and the
    op reads the increment (v1 → v2] — exactly the middle batch, no
    rescan of either neighbor. Planned as a manifest file-set diff:
    two log reads, zero data I/O before the scan of only the added
    files. In-op assertions pin the empty increment (v2 → v2] and the
    full-history increment (v1 → head ≡ everything after the first
    batch) so off-by-one version fencing cannot drift.

    Scale: the downstream checkpoint is ONE integer (last version
    consumed); each poll costs two manifest reads + a scan of only the
    new files — the pattern that feeds a 100 TB training pipeline
    without ever re-listing the table."""
    path = _fresh_table_dir("incr", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(spark, path, base.filter(F.col("o_orderkey") % 3 == 0), key="o_orderkey")
    v1 = lh.current_version(path)
    lh.append(spark, path, base.filter(F.col("o_orderkey") % 3 == 1))
    v2 = lh.current_version(path)
    lh.append(spark, path, base.filter(F.col("o_orderkey") % 3 == 2))
    assert lh.read_incremental(spark, path, v2, v2).count() == 0
    n_tail = lh.read_incremental(spark, path, v1).count()
    assert n_tail == base.filter(F.col("o_orderkey") % 3 != 0).count()
    return lh.read_incremental(spark, path, v1, v2)


@op(
    "lake_zorder_audit",
    oracle="""
WITH b AS (
  SELECT MIN(o_custkey) + (MAX(o_custkey) - MIN(o_custkey)) / 4.0 AS ck,
         MIN(o_totalprice) + (MAX(o_totalprice) - MIN(o_totalprice)) / 4.0 AS tp
  FROM orders
)
SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM orders, b
             WHERE o_custkey <= b.ck AND o_totalprice <= b.tp) AS BIGINT) AS matched_rows,
       TRUE AS rows_preserved,
       TRUE AS pruning_improved,
       CAST(2 AS BIGINT) AS n_versions
""",
    tags=("side_effect",),
)
def lake_zorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering as a versioned commit (Delta OPTIMIZE ZORDER
    shape): orders lands range-partitioned by the TABLE KEY into 8
    files — so a box predicate on (o_custkey, o_totalprice), both
    scattered within every file, skips nothing — then zorder_cluster
    rewrites the snapshot range-partitioned by the interleaved-bit
    Z-value of those two columns. The audit row publishes the protocol
    invariants: row count preserved through the rewrite, file skipping
    strictly improved for the 2-D box, the pre-cluster layout still
    time-travelable, and matched_rows — the rows the stats-pruned scan
    returns for the box — equal to the purely relational count, which
    is the stats-CORRECTNESS gate (a file wrongly skipped would lose
    rows; wrongly kept costs nothing).

    Scale: clustering is the one-off maintenance job; after it, every
    query with predicates on either clustered column plans from ONE
    manifest read and touches a hyper-rectangle of files, not the
    table. The min-max bounds feeding the Z-scale come from one tiny
    agg (at 100 TB: an approximate-quantile sketch, same expression)."""
    path = _fresh_table_dir("zorder", sf_dir)
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_base = base.count()
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    r = base.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).collect()[0]
    ck = r[0] + (r[1] - r[0]) / 4.0
    tp = r[2] + (r[3] - r[2]) / 4.0
    box = {"o_custkey": (None, ck), "o_totalprice": (None, tp)}
    before = len(lh.plan_files(path, predicates=box))
    lh.zorder_cluster(spark, path, ["o_custkey", "o_totalprice"], num_files=8)
    after = len(lh.plan_files(path, predicates=box))
    matched = lh.scan(spark, path, predicates=box).count()
    return spark.createDataFrame(
        [
            (
                lh.read(spark, path).count(),
                matched,
                lh.read(spark, path, version=1).count() == n_base,
                after < before,
                lh.current_version(path),
            )
        ],
        "n_rows long, matched_rows long, rows_preserved boolean, "
        "pruning_improved boolean, n_versions long",
    )


@op(
    "lake_cdf_read",
    oracle="""
SELECT o_orderkey, o_totalprice, 'update_preimage' AS _change_type
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 'update_postimage' AS _change_type
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders) AS o_orderkey,
       o_totalprice, 'insert' AS _change_type
FROM orders WHERE o_orderkey % 97 = 0
""",
    tags=("side_effect",),
)
def lake_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change data feed (Delta CDF shape): orders lands as a
    lake table, one MERGE commits with track_changes=True (every 10th
    key updated to doubled price, every 97th re-keyed past the max as
    an insert), and the op returns read_changes of that commit — the
    matched pre-images, their post-images, and the inserts, each
    tagged in `_change_type`. The oracle rebuilds all three slices
    relationally, so a missing pre-image, a post-image with the wrong
    value, or an update misclassified as insert all hash-fail. In-op,
    a merge WITHOUT tracking is asserted to refuse read_changes —
    silently serving an incomplete feed is the one unforgivable
    failure of a CDC source.

    Scale: change files are written only for merge commits and only
    for the touched rows (two extra broadcast joins against the
    bounded updates batch); append/create commits serve their feed
    straight from the file-set diff with zero extra copies — at
    100 TB the feed costs O(changed rows), never O(table)."""
    from lambda_hive_spark import lakehouse as lh

    path = _fresh_table_dir("cdf", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")

    shift = base.agg(F.max("o_orderkey") + 1).collect()[0][0]
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(
            base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(shift)
            )
        )
    )
    v = lh.merge_upsert(spark, path, updates, track_changes=True)
    untracked = lh.merge_upsert(
        spark, path, base.filter(F.col("o_orderkey") == 1).limit(1)
    )
    try:
        lh.read_changes(spark, path, untracked)
        raise AssertionError("untracked merge served a change feed")
    except ValueError:
        pass
    return lh.read_changes(spark, path, v)


@op(
    "lake_compact_audit",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS rows_preserved,
       TRUE AS files_reduced,
       TRUE AS time_travel_intact,
       CAST(3 AS BIGINT) AS n_versions
FROM orders
""",
    tags=("side_effect",),
)
def lake_compact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction as a versioned commit: orders lands in 8 files, an
    update touches one key (v2), then compaction rewrites the head
    into one file (v3). The audit row publishes the invariants the
    protocol must keep — row count preserved bit-for-bit through the
    rewrite, file count actually reduced, and the PRE-compaction
    version still readable (time travel across the compaction
    boundary). File identities are engine-internal, so the oracle
    checks the invariants, not the paths (sketches.py pattern)."""
    path = _fresh_table_dir("compact", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_base = base.count()
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    lh.merge_upsert(
        spark,
        path,
        base.filter(F.col("o_orderkey") == 1).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
    )
    files_before = len(lh.read_manifest(path)["files"])
    v = lh.compact(spark, path, num_files=1)
    files_after = len(lh.read_manifest(path, v)["files"])
    return spark.createDataFrame(
        [
            (
                lh.read(spark, path).count(),
                lh.read(spark, path).count() == n_base,
                files_after < files_before,
                lh.read(spark, path, version=2).count() == n_base,
                lh.current_version(path),
            )
        ],
        "n_rows long, rows_preserved boolean, files_reduced boolean, "
        "time_travel_intact boolean, n_versions long",
    )


# Per-row exact long-micros of the money column (positive-domain
# round-half-up == DuckDB's ROUND; see helpers.hier_exact_agg for the
# 2^51 exactness derivation — order totals sit ~9 orders below it).
_PRICE_MICROS = "CAST(FLOOR(o_totalprice * 1000000.0D + 0.5D) AS BIGINT)"


def _orders_group_state(df: DataFrame) -> DataFrame:
    """The materialized view's STORED state: per-customer row count,
    count of non-null prices, and the zero-filled micros sum. SUM's
    null-skipping is not representable by a sum column alone — an
    all-null group must emit NULL, not 0 — so the state carries the
    non-null-contribution count separately (the standard IVM state
    for SUM). All three columns are integers, so the retract/apply
    delta algebra is EXACT: incrementally merged state is
    bit-identical to a full recompute, which double-typed sums cannot
    promise (FP addition is order-sensitive)."""
    micros = F.expr(_PRICE_MICROS)
    return df.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("order_count"),
        F.count(micros).cast("long").alias("nn_price_count"),
        F.sum(F.coalesce(micros, F.lit(0))).cast("long").alias("micros_raw"),
    )


def _emit_group_view(state: DataFrame) -> DataFrame:
    """Project the stored state to the user-facing view: total_micros
    is NULL when no non-null price contributed (SUM semantics)."""
    return state.select(
        "o_custkey",
        "order_count",
        F.when(F.col("nn_price_count") > 0, F.col("micros_raw"))
        .cast("long")
        .alias("total_micros"),
    )


def ivm_refresh_view(spark: SparkSession, base_path: str, mv_path: str, version: int) -> None:
    """Fold ONE base-table commit's change feed into the view table:
    signed delta aggregation over `read_changes(version)` (pre-images
    and delete rows retract, post-images/inserts apply), broadcast
    semi-join loads the touched groups' old state, and the refreshed
    groups MERGE back; groups whose row count reaches zero are
    REMOVED from the view with a pruned `delete_where` (the zero-key
    list is bounded by the commit's changed groups — collected as a
    scalar list, never table-sized). Composes across commits —
    calling this once per version in commit order keeps the view
    exactly equal to a full recompute of the head
    (tests/test_lakehouse.py runs three cycles incl. a group-emptying
    delete and checks after each)."""
    delta = lh.read_changes(spark, base_path, version).withColumn(
        "_sign",
        F.when(
            F.col("_change_type").isin("update_preimage", "delete"), F.lit(-1)
        ).otherwise(F.lit(1)),
    )
    micros = F.expr(_PRICE_MICROS)
    delta_agg = delta.groupBy("o_custkey").agg(
        F.sum("_sign").cast("long").alias("d_count"),
        F.sum(F.when(micros.isNotNull(), F.col("_sign")).otherwise(F.lit(0)))
        .cast("long")
        .alias("d_nn"),
        F.sum(F.coalesce(micros, F.lit(0)) * F.col("_sign"))
        .cast("long")
        .alias("d_micros"),
    )
    touched_old = lh.read(spark, mv_path).join(
        F.broadcast(delta_agg.select("o_custkey")), on="o_custkey", how="left_semi"
    )
    refreshed = delta_agg.join(touched_old, on="o_custkey", how="left").select(
        "o_custkey",
        (F.coalesce(F.col("order_count"), F.lit(0)) + F.col("d_count"))
        .cast("long")
        .alias("order_count"),
        (F.coalesce(F.col("nn_price_count"), F.lit(0)) + F.col("d_nn"))
        .cast("long")
        .alias("nn_price_count"),
        (F.coalesce(F.col("micros_raw"), F.lit(0)) + F.col("d_micros"))
        .cast("long")
        .alias("micros_raw"),
    )
    zero_keys = [
        r[0]
        for r in refreshed.filter(F.col("order_count") <= 0)
        .select("o_custkey")
        .collect()  # bounded: ⊆ this commit's changed groups
    ]
    live = refreshed.filter(F.col("order_count") > 0)
    if live.limit(1).count() > 0:
        lh.merge_upsert(spark, mv_path, live)
    if zero_keys:
        in_list = ", ".join(str(k) for k in zero_keys)
        lh.delete_where(
            spark,
            mv_path,
            f"o_custkey IN ({in_list})",
            prune={"o_custkey": (min(zero_keys), max(zero_keys))},
        )


@op(
    "lake_ivm_refresh",
    oracle="""
WITH final_state AS (
  SELECT o_custkey,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders
  UNION ALL
  SELECT o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS order_count,
       CAST(SUM(CAST(ROUND(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT) AS total_micros
FROM final_state
GROUP BY o_custkey
""",
    tags=("side_effect",),
)
def lake_ivm_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance off the change feed:
    orders lands as a keyed lake table, its per-customer revenue view
    materializes as a SECOND lake table, one MERGE mutates the base
    (every 10th key price-doubled, every 97th re-keyed as an insert),
    and the view refreshes from `read_changes` ONLY — pre-images
    retract (sign −1), post-images and inserts apply (sign +1), the
    signed deltas fold into the touched groups, and the refreshed
    groups MERGE back into the view table. The op then asserts the
    incremental view equals a from-scratch recompute of the head
    snapshot (the IVM soundness claim) before returning it; the
    oracle independently rebuilds the final state relationally.
    View state is integer (row count, non-null-price count, and
    zero-filled long-micros sum — the extra count is what lets an
    all-null group emit NULL exactly as SUM does), so the
    retract/apply algebra is exact — no FP drift across refreshes.

    Scale: the refresh costs O(changed rows), never O(base) and never
    O(view) — the change feed is bounded by the MERGE batch, the
    delta aggregation shuffles only changed rows, the view's old rows
    load via a broadcast semi-join on the touched keys, and the view
    MERGE rewrites only key-range-intersecting view files. At 100 TB
    this is the difference between a view you refresh every commit
    and one you rebuild nightly. Groups whose count reaches zero are
    removed from the view via a pruned delete_where (exercised by the
    three-cycle protocol test; this fixture's updates and re-keyed
    inserts never empty a customer's group)."""
    path = _fresh_table_dir("ivm_base", sf_dir)
    mv_path = _fresh_table_dir("ivm_view", sf_dir)
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    lh.create(
        spark, mv_path, _orders_group_state(lh.read(spark, path)), key="o_custkey"
    )

    shift = base.agg(F.max("o_orderkey") + 1).collect()[0][0]
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(
            base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(shift)
            )
        )
    )
    v = lh.merge_upsert(spark, path, updates, track_changes=True)
    ivm_refresh_view(spark, path, mv_path, v)

    incremental = lh.read(spark, mv_path)
    full = _orders_group_state(lh.read(spark, path))
    drift = incremental.exceptAll(full).unionAll(full.exceptAll(incremental))
    assert drift.count() == 0, "incremental view drifted from full recompute"
    return _emit_group_view(incremental)


@op(
    "lake_delete_where",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE NOT COALESCE(o_orderkey % 3 = 0 AND o_totalprice < 100000.0, FALSE)
""",
    tags=("side_effect",),
)
def lake_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE through the table layer: orders lands
    range-partitioned by key into 8 files, then one delete removes
    every 3rd key priced under a fixed threshold (a shared literal on
    both sides — a computed cut like the median would re-derive on
    each engine and a 1-ulp interpolation gap could flip a boundary
    row) — committed with change tracking, so the deleted pre-images
    are served by the change feed.
    The head read-back must equal the relational survivor set (the
    oracle's NOT COALESCE(p, FALSE): DELETE removes only p IS TRUE,
    so a NULL-valued predicate row SURVIVES — a bare WHERE NOT (p)
    oracle would drop it, the mismatch the heavy-null variant
    caught), proving survivors were rewritten exactly and untouched
    files carried by reference; in-op, the pre-delete version is
    asserted still readable (time travel across the delete), the
    change feed's `delete` row count is asserted equal to the rows
    removed, and an untracked delete is asserted to refuse
    read_changes — the same unforgivable-CDC-failure contract the
    merge path carries.

    Scale: with a `prune` stats box the rewrite touches only files the
    footer stats cannot clear — "delete one day / one tenant" rewrites
    that partition, never the table (here the predicate is scattered
    across all files, the honest worst case, so all 8 rewrite; the
    pruned path is exercised structurally in tests/test_lakehouse.py)."""
    path = _fresh_table_dir("delete", sf_dir)
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    n_base = base.count()

    v = lh.delete_where(
        spark,
        path,
        "o_orderkey % 3 = 0 AND o_totalprice < 100000.0",
        track_changes=True,
    )
    head = lh.read(spark, path)
    n_head = head.count()
    assert lh.read(spark, path, version=1).count() == n_base  # time travel
    feed = lh.read_changes(spark, path, v)
    assert feed.count() == n_base - n_head  # every removed row fed
    assert feed.select("_change_type").distinct().collect()[0][0] == "delete"

    untracked = lh.delete_where(spark, path, "o_orderkey = 1")
    try:
        lh.read_changes(spark, path, untracked)
        raise AssertionError("untracked delete served a change feed")
    except ValueError:
        pass
    return head


@op(
    "lake_update_where",
    oracle="""
SELECT o_orderkey, o_custkey,
       CASE WHEN COALESCE(o_orderkey % 6 = 0 AND o_totalprice < 120000.0, FALSE)
            THEN o_totalprice + 1000000.0 ELSE o_totalprice END AS o_totalprice
FROM orders
""",
    tags=("side_effect",),
)
def lake_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET ... WHERE through the table layer, BOTH write
    paths exercised in one lifecycle (r9 — completes the mutation verb
    trio after delete_where and merge_upsert): orders lands
    range-partitioned into 8 files twice; the SAME update (every 6th
    key priced under a shared literal gets +1e6) runs copy-on-write on
    one table and merge-on-read (deletion_vectors=True) on the other,
    and the op asserts the two heads are row-identical, that the DV
    table moved ZERO pre-existing data files (update = DV-delete of
    the pre-image + append of the post-image), that both commits read
    net_rows == 0 (an update never changes the count), that the
    pre-update version time-travels, and that the tracked COW update's
    change feed carries exactly matched-count update_preimage +
    update_postimage pairs. The oracle is the relational CASE twin —
    COALESCE(p, FALSE) because UPDATE applies only where the predicate
    IS TRUE (NULL-predicate rows stay untouched, the same heavy-null
    contract the delete op carries).

    Scale: the DV path is the trickle-update answer at 100 TB —
    O(matched positions + post-image rows), never O(touched files
    rewritten); the COW path stats-prunes like delete_where when the
    predicate is sargable. The fixed +1e6 literal keeps the double
    arithmetic bit-identical on both engines (same literal, same IEEE
    multiply-free add)."""
    pred = "o_orderkey % 6 = 0 AND o_totalprice < 120000.0"
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_base = base.count()
    p_cow = _fresh_table_dir("upd_cow", sf_dir)
    p_dv = _fresh_table_dir("upd_dv", sf_dir)
    for p in (p_cow, p_dv):
        lh.create(spark, p, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    files_v1 = sorted(f["path"] for f in lh.read_manifest(p_dv)["files"])

    v_cow = lh.update_where(
        spark, p_cow, pred, {"o_totalprice": "o_totalprice + 1000000.0"},
        track_changes=True,
    )
    lh.update_where(
        spark, p_dv, pred, {"o_totalprice": "o_totalprice + 1000000.0"},
        deletion_vectors=True,
    )
    head = lh.read(spark, p_dv)
    assert head.count() == n_base, "update changed the row count"
    drift = head.exceptAll(lh.read(spark, p_cow)).unionAll(
        lh.read(spark, p_cow).exceptAll(head)
    )
    assert drift.count() == 0, "DV update diverged from COW update"
    m = lh.read_manifest(p_dv)
    kept = [f["path"] for f in m["files"] if f["path"] in set(files_v1)]
    assert kept == files_v1, "DV update moved a pre-existing data file"
    assert m["metrics"]["net_rows"] == 0
    assert lh.read_manifest(p_cow)["metrics"]["net_rows"] == 0
    assert lh.read(spark, p_dv, version=1).count() == n_base  # time travel
    n_matched = base.filter(f"coalesce(({pred}), false)").count()
    feed = lh.read_changes(spark, p_cow, v_cow)
    assert feed.count() == 2 * n_matched, "feed must pair pre+post images"
    return head


@op(
    "lake_bloom_pruned_scan",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_name IN (SELECT c_name FROM customer ORDER BY c_custkey LIMIT 3)
""",
    tags=("side_effect",),
)
def lake_bloom_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point-lookup pruning: customer lands ROUND-ROBIN
    partitioned into 8 files — the honest model of a table whose
    layout clusters some other dimension — so every file's footer
    (min,max) on c_name (unique, unclustered in this layout) spans
    ~the whole domain and stats skip nothing for a name lookup. One
    bloom_index commit later, a point scan for each of three known
    names plans only the file(s) that can contain it, and a lookup of
    an ABSENT name plans ZERO files. Both pruning claims are asserted
    structurally in-op (bloom plan strictly smaller than the
    stats-only plan; absent value → empty plan); the returned rows of
    the three lookups must equal the purely relational IN — the
    stats-CORRECTNESS gate (a bloom that wrongly skips a file loses
    rows and hash-fails; a false positive only costs a file read).
    bits_per_row=16 puts the per-file fpp near 1e-5, so the
    zero-files claim holds deterministically across corpus scales
    and regenerations (at the default ~1% it would be a coin flip
    per 100 probes). p_name was deliberately NOT used: the fixture's
    part names are low-cardinality phrases present in every file —
    a bloom can never prune a value that is genuinely everywhere.

    Scale: this is the "does this document/order/user ID exist" query
    at 100 TB — answered from ONE manifest read plus a sidecar fetch,
    no directory listing, no footer fetches, no scan for misses.
    Build cost is one column-pruned pass: per-file distinct values →
    k salted-md5 positions (pure JVM) → per-file numpy bitset fold in
    applyInPandas; the driver collects one m/8-byte row per file."""
    path = _fresh_table_dir("bloom", sf_dir)
    base = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    lh.create(spark, path, base.repartition(8), key="c_custkey")
    lh.bloom_index(spark, path, "c_name", bits_per_row=16)

    probes = sorted(
        {r["c_name"] for r in base.orderBy("c_custkey").limit(3).collect()}
    )
    strictly_pruned = False
    for name in probes:
        stats_only = len(lh.plan_files(path, predicates={"c_name": (name, name)}))
        with_bloom = len(lh.plan_files(path, point={"c_name": name}))
        assert 1 <= with_bloom <= stats_only, (name, with_bloom, stats_only)
        strictly_pruned = strictly_pruned or with_bloom < stats_only
    assert strictly_pruned, "bloom never beat footer stats"
    absent = probes[0] + "#no-such-customer"
    assert lh.plan_files(path, point={"c_name": absent}) == []

    out = None
    for name in probes:
        d = lh.scan(spark, path, point={"c_name": name})
        out = d if out is None else out.unionByName(d)
    return out


@op(
    "lake_restore_version",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
""",
    tags=("side_effect",),
)
def lake_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE as a versioned commit: version 1 lands the even
    orderkeys, version 2 appends the odds, version 3 restores to v1 —
    by manifest reference, zero data rewritten. The head read must
    equal v1's content (the oracle), and in-op the UNDONE version 2 is
    asserted still time-travelable with the full row count: restore
    rewinds the table, not its history. A restore past the vacuum
    horizon is asserted to refuse (the missing-files guard) rather
    than publish a snapshot that cannot be read.

    Scale: restore is the incident-response primitive — "yesterday's
    bad MERGE poisoned the table" undoes in O(1) data I/O at any table
    size, because the commit log owns file membership; only vacuum
    forfeits that option, and it says so."""
    path = _fresh_table_dir("restore", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    evens = base.filter(F.col("o_orderkey") % 2 == 0)
    lh.create(spark, path, evens.repartitionByRange(4, "o_orderkey"), key="o_orderkey")
    lh.append(spark, path, base.filter(F.col("o_orderkey") % 2 == 1))
    v = lh.restore(spark, path, 1)
    assert v == 3 and lh.current_version(path) == 3
    assert lh.read(spark, path, version=2).count() == base.count()  # history intact
    assert lh.read_manifest(path)["restored_from"] == 1
    return lh.read(spark, path)


@op(
    "lake_vacuum_audit",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS files_reclaimed,
       TRUE AS head_intact,
       TRUE AS horizon_enforced
FROM orders
""",
    tags=("side_effect",),
)
def lake_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum's retention contract, value-gated: orders lands in 8
    files (v1), compaction rewrites the snapshot into one file (v2),
    and vacuum(keep_last=1) physically reclaims v1's now-unreferenced
    files and drops its manifest. The audit row publishes the three
    invariants — storage actually reclaimed (the deleted list is
    non-empty and gone from disk), the head still serves every row
    bit-for-bit (COUNT gate), and the horizon is enforced on BOTH
    doors: time travel to v1 and restore(1) each refuse instead of
    resolving to deleted files.

    Scale: vacuum is the only operation that deletes data; everything
    else appends files and manifests. At 100 TB it runs from the
    commit log alone — set arithmetic over manifests' file lists, no
    table scan — exactly like Delta's VACUUM with the reference-count
    done by manifest diff."""
    path = _fresh_table_dir("vacuum", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_base = base.count()
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    lh.compact(spark, path, num_files=1)
    deleted = lh.vacuum(path, keep_last=1)
    head_rows = lh.read(spark, path).count()
    reclaimed = len(deleted) >= 8 and not any(os.path.exists(p) for p in deleted)
    try:
        lh.read_manifest(path, 1)
        horizon = False
    except FileNotFoundError:
        try:
            lh.restore(spark, path, 1)
            horizon = False
        except FileNotFoundError:
            horizon = True
    return spark.createDataFrame(
        [(head_rows, reclaimed, head_rows == n_base, horizon)],
        "n_rows long, files_reclaimed boolean, head_intact boolean, "
        "horizon_enforced boolean",
    )


@op(
    "lake_constraint_audit",
    oracle="""
SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS refused_violation,
       TRUE AS landed_valid,
       TRUE AS refused_retroactive,
       CAST(3 AS BIGINT) AS n_constraints
FROM orders
""",
    tags=("side_effect",),
)
def lake_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints end-to-end (Delta invariants shape): orders
    lands with two constraints (non-negative price, key present); a
    batch with negated prices is REFUSED whole (ConstraintViolation
    carries per-constraint row counts), a clean re-keyed batch lands,
    a retroactive constraint the existing data violates is refused at
    add time (a constraint that doesn't hold is worse than none), and
    a satisfiable one commits metadata-only. The audit row gates the
    invariants: head row count equals seed + the one valid batch
    (nothing from the refused batch leaked), both refusals fired, and
    the final constraint count is exact. NULL predicate rows PASS
    (SQL CHECK semantics) — the heavy-null perturbation corpus rides
    through the price constraint untouched by construction.

    Scale: validation is ONE aggregation over the WRITE BATCH (all
    constraints as conditional sums in a single job) — the table is
    rescanned only by add_constraint, which is the point: enforcement
    rides the bounded side of every write, exactly like schema
    validation. Constraints live in the manifest and carry forward
    through merge/compact/restore commits automatically."""
    path = _fresh_table_dir("constraint", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(
        spark,
        path,
        base.repartitionByRange(4, "o_orderkey"),
        key="o_orderkey",
        constraints={
            "price_nonneg": "o_totalprice >= 0",
            "key_present": "o_orderkey IS NOT NULL",
        },
    )
    shift = base.agg(F.max("o_orderkey") + 1).collect()[0][0]

    poisoned = base.filter(F.col("o_totalprice").isNotNull()).select(
        (F.col("o_orderkey") + F.lit(shift)).alias("o_orderkey"),
        (-F.col("o_totalprice")).alias("o_totalprice"),
    )
    refused_violation = False
    try:
        lh.append(spark, path, poisoned)
    except lh.ConstraintViolation as e:
        refused_violation = "price_nonneg" in e.violations

    valid = base.select(
        (F.col("o_orderkey") + F.lit(shift)).alias("o_orderkey"), "o_totalprice"
    )
    lh.append(spark, path, valid)
    landed_valid = lh.read(spark, path).count() == 2 * base.count()

    refused_retroactive = False
    try:
        lh.add_constraint(spark, path, "price_tiny", "o_totalprice <= 1.0")
    except lh.ConstraintViolation:
        refused_retroactive = True
    lh.add_constraint(spark, path, "price_cap", "o_totalprice <= 1e12")

    return spark.createDataFrame(
        [
            (
                lh.read(spark, path).count(),
                refused_violation,
                landed_valid,
                refused_retroactive,
                len(lh.read_manifest(path)["constraints"]),
            )
        ],
        "n_rows long, refused_violation boolean, landed_valid boolean, "
        "refused_retroactive boolean, n_constraints long",
    )


@op(
    "lake_history_metrics",
    oracle="""
SELECT CAST(1 AS BIGINT) AS version, 'create' AS action,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS net_rows
FROM orders
UNION ALL
SELECT CAST(2 AS BIGINT), 'append',
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
FROM orders
UNION ALL
SELECT CAST(3 AS BIGINT), 'delete',
       CAST(-COUNT(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT)
FROM orders
UNION ALL
SELECT CAST(4 AS BIGINT), 'compact', CAST(0 * COUNT(*) AS BIGINT) FROM orders
""",
    tags=("side_effect",),
)
def lake_history_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit history with operation metrics (Delta DESCRIBE HISTORY
    shape): create the evens (v1), append the odds (v2), delete every
    3rd key (v3), compact (v4) — then read the table's own history.
    Each commit's `net_rows` (logical row delta, derived at commit
    time from the manifest file-stats diff, zero data I/O) must equal
    the relational truth: +evens, +odds, -every-3rd, and EXACTLY ZERO
    for the compaction (a layout-only rewrite that changed net_rows
    would mean rows were lost or invented by maintenance — the
    invariant this op pins).

    Scale: history is log-read-only observability — at 100 TB an
    operator answers "what changed, when, how much" from manifests
    alone; per-commit metrics cost nothing extra because footer row
    counts are already in the manifest for pruning."""
    path = _fresh_table_dir("history", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(
        spark,
        path,
        base.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(4, "o_orderkey"),
        key="o_orderkey",
    )
    lh.append(spark, path, base.filter(F.col("o_orderkey") % 2 == 1))
    lh.delete_where(spark, path, "o_orderkey % 3 = 0")
    lh.compact(spark, path, num_files=2)
    hist = lh.history(path)
    return spark.createDataFrame(
        [(h["version"], h["action"], h["metrics"]["net_rows"]) for h in hist],
        "version long, action string, net_rows long",
    )


@op(
    "lake_optimize_small_files",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS only_small_rewritten,
       TRUE AS large_carried_by_reference,
       TRUE AS files_reduced,
       CAST(0 AS BIGINT) AS net_rows
FROM orders
""",
    tags=("side_effect",),
)
def lake_optimize_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE with small-file selection (Delta OPTIMIZE bin-packing
    shape): one well-sized file lands first, then eight tiny appends
    model a streaming trickle — the classic small-file problem. One
    optimize later, ONLY the trickle coalesced (the audit checks the
    big file's path is carried by reference, byte-identical manifest
    entry), total file count dropped, the row count is bit-preserved,
    and the commit's net_rows metric is exactly zero (maintenance
    that changes the logical row delta lost or invented data).

    Scale: `compact` rewrites the snapshot — O(table); optimize
    rewrites O(trickle), selected from manifest row counts with zero
    file I/O to plan. At 100 TB with streaming ingestion this is the
    difference between a nightly maintenance job that costs minutes
    and one that costs the whole table."""
    path = _fresh_table_dir("optimize", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_base = base.count()
    big = base.filter(F.col("o_orderkey") % 9 != 0)
    lh.create(spark, path, big.repartition(1), key="o_orderkey")
    trickle = base.filter(F.col("o_orderkey") % 9 == 0)
    for i in range(8):
        lh.append(spark, path, trickle.filter(F.col("o_orderkey") % 8 == i))

    m_before = lh.read_manifest(path)
    big_rows = big.count()
    big_paths = {f["path"] for f in m_before["files"] if f["rows"] == big_rows}
    n_files_before = len(m_before["files"])

    lh.optimize_small_files(spark, path, target_rows=big_rows)
    m_after = lh.read_manifest(path)
    after_paths = {f["path"] for f in m_after["files"]}
    only_small = big_paths <= after_paths  # the big file untouched
    reduced = len(m_after["files"]) < n_files_before
    net = m_after["metrics"]["net_rows"]
    return spark.createDataFrame(
        [
            (
                lh.read(spark, path).count(),
                only_small,
                bool(big_paths) and only_small,
                reduced,
                net,
            )
        ],
        "n_rows long, only_small_rewritten boolean, "
        "large_carried_by_reference boolean, files_reduced boolean, net_rows long",
    )


@op(
    "lake_partitioned_write",
    oracle="""
SELECT event_type,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events GROUP BY event_type
""",
    tags=("side_effect",),
)
def lake_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned lake table: events lands partitioned by
    event_type, and the op returns the PARTITIONS LISTING (lakehouse
    SHOW PARTITIONS — file and row counts per partition straight from
    the manifest, zero data I/O). Matching the oracle proves three
    layout invariants at once: every partition tuple exists, every
    file holds exactly one tuple (n_files = 1 — the clustering
    shuffle caps a write at one file per partition, the optimized-
    write contract), and per-partition row counts equal the
    relational GROUP BY. A full read-back count is asserted in-op so
    routing rows to the wrong partition cannot cancel out.

    Scale: partitioning is the first-order 100 TB layout decision —
    the listing (and all partition pruning) is manifest-only, so
    layout-health checks cost log reads on a table of any size."""
    path = _fresh_table_dir("partwrite", sf_dir)
    base = table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    lh.create(spark, path, base, key="event_id", partition_by=["event_type"])
    assert lh.read(spark, path).count() == base.count()  # nothing misrouted
    parts = lh.partitions(path)
    return spark.createDataFrame(
        [(p["event_type"], p["files"], p["rows"]) for p in parts],
        "event_type string, n_files long, n_rows long",
    )


@op(
    "lake_partition_pruned_scan",
    oracle="""
WITH t AS (SELECT MIN(event_type) AS et FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM events, t WHERE event_type = t.et
GROUP BY event_type
""",
    tags=("side_effect",),
)
def lake_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning EXACTNESS: events lands partitioned by
    event_type, then an equality scan on the first (lexicographic)
    type plans exactly that partition's files — asserted in-op
    against the manifest (planned ⊂ total, every planned file carries
    the matching tuple) — and the aggregate over the scanned rows
    must equal the relational WHERE. Unlike footer-stats skipping,
    the decision is per-file EXACT (one tuple per file), so it holds
    even for columns whose stats are absent or truncated.

    Scale: the prune decision is manifest-only — a predicate on the
    partition column of a 100 TB table plans its scan without
    listing, opening, or footer-reading any non-matching file."""
    path = _fresh_table_dir("partprune", sf_dir)
    base = table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    lh.create(spark, path, base, key="event_id", partition_by=["event_type"])
    et = base.agg(F.min("event_type")).collect()[0][0]
    m = lh.read_manifest(path)
    planned = lh.plan_files(path, point={"event_type": et})
    assert planned and len(planned) < len(m["files"]), "no partition pruning"
    assert all(f["partition"]["event_type"] == et for f in planned)
    return (
        lh.scan(spark, path, point={"event_type": et})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


@op(
    "lake_replace_where",
    oracle="""
WITH t AS (SELECT MIN(event_type) AS et FROM events)
SELECT event_id, event_type,
       CASE WHEN event_type = (SELECT et FROM t) THEN value * 2 ELSE value END AS value
FROM events
""",
    tags=("side_effect",),
)
def lake_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (Delta replaceWhere): the first
    event_type partition is atomically swapped for a recomputed batch
    (value doubled) in ONE versioned commit — the idempotent-backfill
    verb every ingestion pipeline needs ("recompute yesterday" =
    replace yesterday's partition). The head read must equal the
    relational CASE — proving the swap dropped exactly the old
    partition, kept every other partition by reference, and landed
    the new rows once. In-op, the pre-swap snapshot is asserted
    unchanged (time travel) and an out-of-region batch is asserted
    REFUSED — the write cannot silently leak rows into partitions the
    commit claims not to touch.

    Scale: planning is manifest-only; the commit reads and rewrites
    exactly one partition — the other N-1 partitions of a 100 TB
    table carry by reference."""
    path = _fresh_table_dir("replwhere", sf_dir)
    base = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    lh.create(spark, path, base, key="event_id", partition_by=["event_type"])
    et = base.agg(F.min("event_type")).collect()[0][0]
    pred = f"event_type = '{et}'"
    recomputed = base.filter(pred).withColumn("value", F.col("value") * 2)
    try:
        lh.replace_where(spark, path, pred, base.limit(50))  # region leak
        raise AssertionError("out-of-region rows were accepted")
    except ValueError:
        pass
    v = lh.replace_where(spark, path, pred, recomputed)
    assert (
        lh.read(spark, path, version=v - 1)
        .filter(pred)
        .agg(F.sum("value"))
        .collect()[0][0]
        == base.filter(pred).agg(F.sum("value")).collect()[0][0]
    )  # pre-swap snapshot intact
    return lh.read(spark, path)


@op(
    "lake_partition_evolution",
    oracle="""
SELECT doc_id, lang, source FROM documents
""",
    tags=("side_effect",),
)
def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution: documents lands partitioned by lang,
    then `repartition_table` re-lays it out by source as ONE
    versioned commit. Afterwards pruning on the NEW column is exact
    (asserted in-op), the OLD spec still resolves via time travel
    (manifest v1 records partition_by=[lang]), and the head read-back
    must be value-identical to the fixture — layout changed, data
    bit-preserved. The rewrite form is honest about its cost
    (O(table)); Iceberg's in-place spec evolution is the at-scale
    refinement, and the manifest's per-file tuples already tolerate
    the mixed state it produces.

    Scale: evolution is the escape hatch for yesterday's layout
    decision — the alternative (copy to a new table, repoint readers)
    loses history and identity; here both survive."""
    path = _fresh_table_dir("partevolve", sf_dir)
    base = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    lh.create(spark, path, base, key="doc_id", partition_by=["lang"])
    lh.repartition_table(spark, path, ["source"])
    assert lh.read_manifest(path, 1)["partition_by"] == ["lang"]  # time travel
    assert lh.read_manifest(path)["partition_by"] == ["source"]
    src = base.agg(F.min("source")).collect()[0][0]
    m = lh.read_manifest(path)
    planned = lh.plan_files(path, point={"source": src})
    assert planned and len(planned) < len(m["files"])
    assert all(f["partition"]["source"] == src for f in planned)
    return lh.read(spark, path)


@op(
    "lake_generated_partition",
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM events GROUP BY CAST(ts AS DATE)
""",
    tags=("side_effect",),
)
def lake_generated_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated partition columns (Delta generated-columns shape):
    events lands partitioned by a `day` column the TABLE computes
    (`to_date(ts)`) — the ingest-by-day pattern where no caller ever
    hand-maintains the partition key. The create batch OMITS day (the
    expression materializes it); a second batch PROVIDING a
    disagreeing day is asserted REFUSED in-op (a wrong hand-supplied
    value would silently misroute the partition); pruning on the
    generated column is asserted exact. The per-day rollup must equal
    the relational GROUP BY over raw ts — proving computation,
    routing, and read-back agree end to end.

    Scale: the generation rule lives in the manifest, so every writer
    — batch jobs, streaming foreachBatch, MERGE — routes identically;
    day-level retention (`replace_where "day = X"`) and day-pruned
    scans follow for free on a 100 TB events table."""
    path = _fresh_table_dir("genpart", sf_dir)
    base = table(spark, sf_dir, "events").select("event_id", "ts", "value")
    half = base.filter(F.col("event_id") % 2 == 0)
    rest = base.filter(F.col("event_id") % 2 == 1)
    lh.create(
        spark, path, half, key="event_id",
        partition_by=["day"], generated={"day": "to_date(ts)"},
    )
    lh.append(spark, path, rest)  # day computed here too
    bad = rest.limit(5).withColumn("day", F.expr("DATE'1999-01-01'"))
    try:
        lh.append(spark, path, bad)
        raise AssertionError("disagreeing generated value was accepted")
    except ValueError:
        pass
    some_day = lh.partitions(path)[0]["day"]
    planned = lh.plan_files(path, point={"day": some_day})
    assert planned and all(f["partition"]["day"] == some_day for f in planned)
    assert len(planned) < len(lh.read_manifest(path)["files"])
    return (
        lh.read(spark, path)
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


@op(
    "lake_shallow_clone",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
FROM orders
""",
    tags=("side_effect",),
)
def lake_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE: orders lands as a lake table, a clone
    is taken (O(1) data I/O — the clone's v1 manifest references the
    source's files by path, asserted verbatim in-op), then the CLONE
    is mutated (every 10th price doubled via MERGE). The clone read
    must equal the relational CASE while the SOURCE is asserted
    bit-intact — divergence without interference, the property that
    makes a clone safe to hand to an experiment. The clone's txn
    ledger is asserted fresh (a new sink identity must not inherit
    the source's exactly-once dedup state).

    Scale: cloning a 100 TB table costs one manifest write; the
    experiment pays only for the rows it changes (copy-on-write into
    the clone's OWN data dir — vacuum's ownership guard keeps either
    table's maintenance away from the other's files)."""
    path = _fresh_table_dir("clonesrc", sf_dir)
    clone_path = _fresh_table_dir("clonedst", sf_dir)
    base = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lh.create(spark, path, base.repartitionByRange(4, "o_orderkey"), key="o_orderkey")
    lh.clone(spark, path, clone_path)
    m = lh.read_manifest(clone_path)
    assert m["action"] == "clone" and m["txns"] == {}
    assert {f["path"] for f in m["files"]} == {
        f["path"] for f in lh.read_manifest(path)["files"]
    }
    updates = base.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    lh.merge_upsert(spark, clone_path, updates)
    # row-exact source check (not a float SUM, whose partition-order
    # non-associativity would false-positive): multiset difference
    # against the fixture must be empty both ways
    src = lh.read(spark, path)
    leaked = src.exceptAll(base).count() + base.exceptAll(src).count()
    assert leaked == 0, "clone mutation leaked into the source"
    return lh.read(spark, clone_path)


_ANN_ORACLE = """
WITH delta AS (
  SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
         embedding, label
  FROM embeddings WHERE vec_id % 37 = 0
),
corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL SELECT vec_id, embedding, label FROM delta
),
bex AS (
  -- centroids train on the PRE-APPEND snapshot only (IVF semantics:
  -- the coarse quantizer is a train-time artifact; appends are
  -- assigned against it, they do not retrain it)
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
cent AS (SELECT label AS cell, pos, AVG(val) AS c FROM bex GROUP BY label, pos),
cex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM corpus
),
vscore AS (
  SELECT e.vec_id, c.cell, SUM(e.val * c.c) AS cdot
  FROM cex e JOIN cent c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cell
),
""" + IVF_ASSIGN_CTES + """,
cand AS (
  SELECT qc.query_id, a.vec_id AS neighbor_id
  FROM qcells qc JOIN assign a ON a.cell = qc.cell AND a.vec_id <> qc.query_id
)
SELECT c.query_id, c.neighbor_id,
       {dotxy} AS cosine,
       CAST(row_number() OVER (PARTITION BY c.query_id
            ORDER BY {dotxy} DESC, c.neighbor_id ASC) AS BIGINT) AS rank
FROM cand c
JOIN embeddings x ON x.vec_id = c.query_id
JOIN corpus y ON y.vec_id = c.neighbor_id
QUALIFY rank <= {k}
"""


_ANN_DOTXY = sql_dot("x.embedding", "y.embedding")


@op(
    "lake_ann_index_probe",
    oracle=_ANN_ORACLE.format(nprobe=N_PROBE, k=K_NN, dotxy=_ANN_DOTXY),
    tags=("side_effect",),
)
def lake_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index PERSISTED in the lakehouse and maintained
    incrementally — the 100 TB serving shape the r6 verdict ranked
    the top unconnected capability: at scale you never rebuild an
    index per query; you store the coarse quantizer and the inverted
    lists as lake tables, assign each append batch off the manifest
    diff (O(delta), never O(corpus)), and serve probes from the
    PERSISTED index via partition-pruned scans.

    End-to-end protocol, all self-asserted in-op:
    1. embeddings lands as a keyed lake table (the vector corpus);
    2. the IVF index trains ONCE on that snapshot (per-label mean
       centroids — extras.ivf_index, the driver-graded formulation)
       and persists as TWO lake tables: `cent` (10 rows) and `lists`
       (vec_id, embedding, cell) PARTITIONED BY cell, so a cell is a
       partition and a probe is a partition-pruned file plan;
    3. an append batch lands in the corpus table (every 37th vector
       re-keyed past max — the oracle replays it relationally);
    4. incremental maintenance reads ONLY the appended rows via the
       manifest file-set diff (read_incremental), asserts the batch
       row count (the O(delta) proof), assigns them against the
       PERSISTED centroids, and appends to the lists table — the
       index tables never see a full rebuild;
    5. the probe reads centroids + ONLY the probed cells' partitions
       (one manifest-pruned point scan per cell; every point plan is
       asserted a strict subset of the table's files), scores the
       probed lists, and returns per-query top-k;
    6. the probe result is asserted identical to a from-scratch
       re-assignment of the HEAD corpus against the same centroids
       (the index-freshness soundness claim, mirroring
       lake_ivm_refresh's drift check).

    The DuckDB oracle replays the whole pipeline — train-on-base,
    assign-the-union, probe, exact left-fold dot ranking — so the
    driver hash-gates the incremental maintenance path, not just the
    output shape. Its twin is extras.ivf_knn, which rebuilds the index
    per query; same query set / schema, value-identical when the corpus
    has no appends since training."""
    base_path = _fresh_table_dir("ann_base", sf_dir)
    cent_path = _fresh_table_dir("ann_cent", sf_dir)
    lists_path = _fresh_table_dir("ann_lists", sf_dir)

    e = table(spark, sf_dir, "embeddings")
    lh.create(spark, base_path, e.repartition(4), key="vec_id")

    # --- build: train once on the pre-append snapshot, persist ---
    cent, lists = ivf_index(spark, sf_dir)
    lh.create(spark, cent_path, cent, key="cell")
    lh.create(spark, lists_path, lists, key="vec_id", partition_by=["cell"])

    # --- append + O(delta) incremental index maintenance ---
    shift = e.agg(F.max("vec_id") + 1).collect()[0][0]
    delta = e.filter(F.col("vec_id") % 37 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(shift)
    )
    v_before = lh.current_version(base_path)
    v_after = lh.append(spark, base_path, delta)
    inc = lh.read_incremental(spark, base_path, v_before, v_after)
    n_inc = inc.count()
    assert n_inc == delta.count(), "manifest diff over-delivered the append"

    cent_t = lh.read(spark, cent_path)
    lh.append(spark, lists_path, assign_cells(inc, cent_t))

    # --- probe the PERSISTED index: no rebuild, pruned partition reads ---
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    result = _ivf_probe_lists(spark, q, cent_t, lists_path)

    # --- soundness: incremental index == from-scratch head assignment ---
    rebuilt = assign_cells(lh.read(spark, base_path), cent_t).select("vec_id", "cell")
    persisted = lh.read(spark, lists_path).select("vec_id", "cell")
    drift = persisted.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(persisted))
    assert drift.count() == 0, "incremental index drifted from full rebuild"
    return result


def _ann_pq_oracle() -> str:
    """IVF-PQ-in-the-lake oracle: composed from the proven pieces —
    _ANN_ORACLE's train-on-base/assign-the-union CTEs (lake_ann_index_probe,
    this file) and vec_pq_recall_eval's codes/ADC CTEs (stats.py), with
    codes computed over the post-append corpus and candidates restricted
    to each query's probed cells."""
    from lambda_hive_spark.operators.stats import _PQ_DIM, _PQ_K, _PQ_SUB

    return f"""
WITH delta AS (
  SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
         embedding, label
  FROM embeddings WHERE vec_id % 37 = 0
),
corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL SELECT vec_id, embedding, label FROM delta
),
bex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
cent AS (SELECT label AS cell, pos, AVG(val) AS c FROM bex GROUP BY label, pos),
cex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM corpus
),
vscore AS (
  SELECT e.vec_id, c.cell, SUM(e.val * c.c) AS cdot
  FROM cex e JOIN cent c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cell
),
{IVF_ASSIGN_CTES.format(nprobe=N_PROBE)},
sub AS (
  SELECT vec_id, s.s AS s, k.k AS k,
         list_reduce(list_transform(range(1, {_PQ_DIM} + 1),
           d -> POW(CAST(embedding[s.s * {_PQ_DIM} + d] AS DOUBLE)
                - CAST(((s.s * 131 + k.k * 17 + (d - 1) * 7) % 21 - 10) AS DOUBLE) / 10.0, 2)),
           (acc, x) -> acc + x) AS dist
  FROM corpus,
       (SELECT unnest(range(0, {_PQ_SUB})) AS s) s,
       (SELECT unnest(range(0, {_PQ_K})) AS k) k
),
best AS (
  SELECT vec_id, s, k,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, k) AS rn
  FROM sub
),
codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
cand AS (
  SELECT qc.query_id, a.vec_id AS neighbor_id
  FROM qcells qc JOIN assign a ON a.cell = qc.cell AND a.vec_id <> qc.query_id
),
adc_sub AS (
  SELECT c.query_id, c.neighbor_id, codes.s,
         list_reduce(list_transform(range(1, {_PQ_DIM} + 1),
           d -> POW(CAST(q.embedding[codes.s * {_PQ_DIM} + d] AS DOUBLE)
                - CAST(((codes.s * 131 + codes.k * 17 + (d - 1) * 7) % 21 - 10) AS DOUBLE) / 10.0, 2)),
           (acc, x) -> acc + x) AS dsub
  FROM cand c
  JOIN q ON q.vec_id = c.query_id
  JOIN codes ON codes.vec_id = c.neighbor_id
),
adc AS (
  SELECT query_id, neighbor_id,
         list_reduce(list(dsub ORDER BY s), (a, b) -> a + b) AS adc
  FROM adc_sub GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY adc ASC, neighbor_id ASC) AS BIGINT) AS rank
FROM adc
QUALIFY rank <= {K_NN}
"""


@op(
    "lake_ann_pq_probe",
    oracle=_ann_pq_oracle(),
    tags=("side_effect",),
)
def lake_ann_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ persisted in the lakehouse — the compressed half of the
    serving shape next to lake_ann_index_probe's raw inverted lists:
    the index table stores (vec_id, cell, k0..k3) — 4 code bytes per
    vector instead of a 64-float embedding, the 16x memory lever that
    fits billion-vector search in RAM — partitioned by IVF cell, so a
    probe is a partition-pruned scan that NEVER touches raw corpus
    embeddings (only the query's own vector is read at probe time;
    the schema assert pins the codes table embedding-free).

    Same lifecycle protocol as the raw-lists twin: train once on the
    pre-append snapshot (centroids + codebook; the PQ codebook is the
    deterministic arithmetic formula shared with vec_pq_encode /
    vec_pq_recall_eval in stats.py, so both engines derive it
    bit-identically), append a batch, maintain the codes table from
    the manifest diff in O(delta), probe the persisted index with
    asymmetric-distance scoring (query sub-vector vs code centroid —
    here inlined per candidate; a production probe builds the
    4x16-entry per-query LUT first, an equivalent reassociation),
    and assert the incremental codes equal a from-scratch head
    re-encode. Ranks by raw ADC with neighbor-id tie-break — the
    ordering vec_pq_recall_eval already proved hash-stable
    cross-engine; ADC itself is not emitted (POW-vs-multiply is
    engine-kitchen noise the contract does not expose)."""
    from pyspark.sql.window import Window

    from lambda_hive_spark.operators.stats import _PQ_DIM, _PQ_SUB, _pq_code_cols

    base_path = _fresh_table_dir("pq_base", sf_dir)
    cent_path = _fresh_table_dir("pq_cent", sf_dir)
    codes_path = _fresh_table_dir("pq_codes", sf_dir)

    e = table(spark, sf_dir, "embeddings")
    lh.create(spark, base_path, e.repartition(4), key="vec_id")

    def encode(vectors: DataFrame) -> DataFrame:
        ks = _pq_code_cols(F.col("embedding"))
        return vectors.select(
            "vec_id", "cell", *[k.alias(f"k{s}") for s, k in enumerate(ks)]
        )

    cent, lists = ivf_index(spark, sf_dir)
    lh.create(spark, cent_path, cent, key="cell")
    lh.create(spark, codes_path, encode(lists), key="vec_id", partition_by=["cell"])
    assert "embedding" not in lh.read(spark, codes_path).columns  # 4 bytes/vec

    shift = e.agg(F.max("vec_id") + 1).collect()[0][0]
    delta = e.filter(F.col("vec_id") % 37 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(shift)
    )
    v_before = lh.current_version(base_path)
    v_after = lh.append(spark, base_path, delta)
    inc = lh.read_incremental(spark, base_path, v_before, v_after)
    assert inc.count() == delta.count(), "manifest diff over-delivered the append"

    cent_t = lh.read(spark, cent_path)
    lh.append(spark, codes_path, encode(assign_cells(inc, cent_t)))

    # --- probe: centroids -> probed cells -> pruned CODE scans -> ADC ---
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qcells = nearest_cells(q, cent_t)
    codes_scan = _cell_scan(spark, codes_path, qcells)

    def adc_sub(s: int):
        kcol = F.col(f"k{s}")

        def step(acc, d):
            x = F.element_at(F.col("qe"), d + F.lit(s * _PQ_DIM + 1)).cast("double")
            c = ((F.lit(s * 131) + kcol * 17 + d * F.lit(7)) % 21 - 10).cast(
                "double"
            ) / 10.0
            diff = x - c
            return acc + diff * diff

        return F.aggregate(F.sequence(F.lit(0), F.lit(_PQ_DIM - 1)), F.lit(0.0), step)

    adc = adc_sub(0)
    for s in range(1, _PQ_SUB):
        adc = adc + adc_sub(s)
    scored = (
        codes_scan.join(F.broadcast(qcells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    result = (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= K_NN)
        .select("query_id", "neighbor_id", "rank")
    )

    # soundness: incremental codes table == from-scratch head re-encode
    rebuilt = encode(assign_cells(lh.read(spark, base_path), cent_t))
    persisted = lh.read(spark, codes_path)
    drift = persisted.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(persisted))
    assert drift.count() == 0, "incremental PQ codes drifted from full re-encode"
    return result


def _text_index_oracle() -> str:
    """BM25 over the post-append corpus, replaying the graded
    text_bm25_topk formulation (retrieval.py) with documents extended
    by the delta batch — the persisted-index probe must equal the
    from-scratch ranking on the head corpus."""
    from lambda_hive_spark.operators.retrieval import _QUERY_VALUES, _TOPK, _bm25_score

    return f"""
WITH q(query_id, term) AS (VALUES {_QUERY_VALUES}),
delta AS (
  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id, text
  FROM documents WHERE doc_id % 23 = 0
),
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM delta
),
lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM docs
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(dl) / COUNT(*) AS avgdl
  FROM lens
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs
),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf
  FROM tok
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY term, doc_id
),
dfq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         {_bm25_score("stats")} AS score
  FROM tf
  JOIN dfq USING (term)
  JOIN lens USING (doc_id)
  JOIN q ON q.term = tf.term
  CROSS JOIN stats
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, CAST(rn AS INT) AS rnk, score
FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rn
  FROM scored
)
WHERE rn <= {_TOPK}
"""


_N_TERM_SHARDS = 32  # bounded postings layout: files/manifest grow with
# shard count, not vocabulary (ADVICE r7 — raw-term partitioning made
# both linear in |vocab|)


def _term_shard(t: str) -> int:
    """Python twin of the Spark-side shard expression in to_postings
    (md5 first 8 hex chars mod _N_TERM_SHARDS) so the probe can compute
    a query term's partition without touching data."""
    import hashlib

    return int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) % _N_TERM_SHARDS


@op(
    "lake_text_index_probe",
    oracle=_text_index_oracle(),
    tags=("side_effect",),
)
def lake_text_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index PERSISTED in the lakehouse with an incrementally
    maintained stats table — the text twin of lake_ann_index_probe,
    closing the same r6-verdict gap for retrieval: text_bm25_topk
    recomputes corpus statistics and postings per query run; at 100 TB
    the index is a table you MAINTAIN, not a query you re-plan.

    Layout and lifecycle:
    - `docs` lake table (doc_id, text) — the corpus;
    - `postings` lake table (term, shard, doc_id, tf, dl), FULL
      vocabulary, PARTITIONED BY a bounded term shard (md5(term) mod
      32 — ADVICE r7: raw-term partitioning grew files and manifest
      linearly with vocabulary): a query term's postings list is a
      partition-pruned point scan of its shard plus an in-scan term
      filter (probe plans asserted strict subsets of the table's
      files);
    - `stats` lake table (n_docs, sum_dl as exact longs, 1 row):
      merged — not rebuilt — on every append;
    - append batch (every 23rd doc re-keyed past max) maintained from
      the manifest diff: delta postings APPEND into their term
      partitions, stats MERGE adds the delta's exact-integer counts;
      both O(delta), asserted via the incremental read's row count;
    - publication is ATOMIC across the trio (r10, closing the same
      fact-ahead-of-index window the ANN path closed in r9): docs,
      postings, and stats commit per-table, then all three pointer
      moves publish in ONE catalog Transaction — no catalog snapshot
      can see a document the postings/stats don't cover, and the
      probe reads the three tables at their pinned versions from a
      single snapshot (tests/test_catalog.py sweeps every catalog
      version for tokenize(docs@pin) == postings@pin consistency);
    - probe: per-term pruned postings scans for the bounded query
      vocabulary; df derives from the scanned postings (the term
      dictionary a real engine keeps — here one count over rows the
      probe already read), idf/avgdl constant-fold as literals from
      the stats row exactly like the graded text_bm25_topk, scores
      accumulate through DECIMAL(18,6), top-10 per query;
    - soundness: the persisted postings equal a from-scratch head
      re-tokenization (exceptAll drift check), so the incremental
      path provably converges to the rebuild.

    Cites retrieval.py:121 (text_bm25_topk — the per-run-stats twin;
    same query workload, schema, and scoring idiom)."""
    from functools import reduce

    from lambda_hive_spark.operators.retrieval import _QUERIES, _TERM_LITS, _TOPK

    docs_path = _fresh_table_dir("ti_docs", sf_dir)
    post_path = _fresh_table_dir("ti_postings", sf_dir)
    stats_path = _fresh_table_dir("ti_stats", sf_dir)

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    lh.create(spark, docs_path, d.repartition(4), key="doc_id")

    def to_postings(docs: DataFrame) -> DataFrame:
        toks = F.split(F.col("text"), " ")
        shard = (
            F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("bigint")
            % _N_TERM_SHARDS
        ).cast("int")
        return (
            docs.select(
                "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
            )
            .groupBy("term", "doc_id", "dl")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("term", shard.alias("shard"), "doc_id", "tf", "dl")
        )

    def doc_stats(docs: DataFrame) -> DataFrame:
        return docs.agg(
            F.lit(0).cast("long").alias("stat_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("sum_dl"),
        )

    lh.create(spark, post_path, to_postings(d), key="doc_id", partition_by=["shard"])
    lh.create(spark, stats_path, doc_stats(d), key="stat_id")
    from lambda_hive_spark import catalog as _cat

    cat = _cat.Catalog(_fresh_table_dir("ti_catalog", sf_dir))
    cat.create_table("docs", docs_path)
    cat.create_table("postings", post_path)
    cat.create_table("stats", stats_path)

    # --- append + O(delta) maintenance, published atomically ---
    shift = d.agg(F.max("doc_id") + 1).collect()[0][0]
    delta = d.filter(F.col("doc_id") % 23 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(shift)
    )
    txn = cat.transaction()
    v0 = lh.current_version(txn.path("docs"))
    v1 = lh.append(spark, txn.path("docs"), delta)
    inc = lh.read_incremental(spark, txn.path("docs"), v0, v1)
    assert inc.count() == delta.count(), "manifest diff over-delivered the append"
    lh.append(spark, txn.path("postings"), to_postings(inc))
    cur = lh.read(spark, txn.path("stats")).collect()[0]
    d_n, d_dl = inc.agg(
        F.count(F.lit(1)), F.sum(F.size(F.split(F.col("text"), " ")))
    ).collect()[0]
    merged = spark.createDataFrame(
        [(0, cur["n_docs"] + d_n, (cur["sum_dl"] or 0) + (d_dl or 0))],
        "stat_id long, n_docs long, sum_dl long",
    )
    lh.merge_upsert(spark, txn.path("stats"), merged)
    # one catalog commit publishes docs+postings+stats together — a
    # reader can never observe the corpus ahead of its index
    txn.stage("docs")
    txn.stage("postings")
    txn.stage("stats")
    assert txn.dirty()
    txn.commit()

    # --- probe the persisted index AT ONE CATALOG SNAPSHOT: the three
    # pins below come from a single catalog read, so the stats row,
    # the pruned postings scans, and the soundness re-tokenization all
    # describe the same logical instant ---
    pins = cat.tables()
    post_v = pins["postings"]["version"]
    st = lh.read(spark, stats_path, version=pins["stats"]["version"]).collect()[0]
    n_docs, sum_dl = st["n_docs"], st["sum_dl"]
    # `not sum_dl` also covers the all-NULL-text corpus, where the
    # NULL-safe maintenance merge above persists 0 rather than NULL:
    # avgdl would be a zero denominator, and BM25 scores nothing.
    if not n_docs or not sum_dl:
        return spark.createDataFrame(
            [], "query_id string, doc_id bigint, rnk int, score double"
        )
    avgdl = sum_dl / n_docs  # exact longs -> one IEEE division, both engines

    n_files_total = len(lh.plan_files(post_path, version=post_v))
    by_shard: dict[int, list[str]] = {}
    for t in _TERM_LITS:
        by_shard.setdefault(_term_shard(t), []).append(t)
    scans = []
    for s, terms in sorted(by_shard.items()):
        plan = lh.plan_files(post_path, point={"shard": s}, version=post_v)
        # strict-subset proof per probed shard; degenerate single-file
        # tables (e.g. a perturbed corpus whose vocabulary collapsed
        # into one shard) have nothing left to prune
        if n_files_total > 1:
            assert len(plan) < n_files_total, "shard probe did not prune"
        if plan:
            scans.append(
                lh.scan(spark, post_path, point={"shard": s}, version=post_v).filter(
                    F.col("term").isin(terms)
                )
            )
    if not scans:
        # no query term's shard has a postings partition (e.g. a
        # regenerated corpus whose vocabulary lost every query term):
        # the oracle scores nothing — return the empty contract frame
        return spark.createDataFrame(
            [], "query_id string, doc_id bigint, rnk int, score double"
        )
    postings = reduce(DataFrame.unionByName, scans).drop("shard")
    df_rows = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df")).collect()
    df = {r["term"]: r["df"] for r in df_rows}

    def idf(t: str):
        return F.round(
            F.log(
                (F.lit(float(n_docs)) - F.lit(float(df.get(t, 0))) + F.lit(0.5))
                / (F.lit(float(df.get(t, 0))) + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        )

    q = spark.createDataFrame(
        [(qid, t) for qid, text in _QUERIES for t in text.split(" ")],
        "query_id string, term string",
    )
    dld = F.col("dl").cast("double")
    norm = F.lit(1.2) * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * dld / F.lit(avgdl))
    tfd = F.col("tf").cast("double")
    idf_col = F.lit(None).cast("double")
    for t in _TERM_LITS:
        idf_col = F.when(F.col("term") == t, idf(t)).otherwise(idf_col)
    scored = (
        postings.join(F.broadcast(q), "term")
        .select(
            "query_id",
            "doc_id",
            dec(idf_col * (tfd * F.lit(2.2)) / (tfd + norm)).alias("part"),
        )
        .groupBy("query_id", "doc_id")
        .agg(dbl(F.sum("part")).alias("score"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    result = (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "doc_id", "rnk", "score")
    )

    # soundness: incremental postings == from-scratch head re-tokenize
    head_posts = to_postings(lh.read(spark, docs_path, version=pins["docs"]["version"]))
    persisted = lh.read(spark, post_path, version=post_v)
    drift = persisted.exceptAll(head_posts).unionAll(head_posts.exceptAll(persisted))
    assert drift.count() == 0, "incremental postings drifted from full rebuild"
    return result


def _cell_scan(spark: SparkSession, path: str, qcells: DataFrame) -> DataFrame:
    """The rows of the cell-partitioned lake table at `path` that lie in
    the cells `qcells` probes: one manifest-pruned point scan per probed
    cell, each plan asserted a strict subset of the table's files,
    unioned. A NULL cell (a corpus with NULL labels trains a NULL-label
    centroid) can reach the probe set, but `a.cell = qc.cell` never
    matches NULL on either engine, so the oracles draw no candidates
    from it and its scan is skipped (sorted() could not order None
    against ints either)."""
    from functools import reduce

    probed = sorted(
        r[0] for r in qcells.select("cell").distinct().collect() if r[0] is not None
    )
    n_files_total = len(lh.plan_files(path))
    scans = []
    for c in probed:
        plan = lh.plan_files(path, point={"cell": c})
        assert 0 < len(plan) < n_files_total, (
            "cell probe did not prune at the manifest layer"
        )
        scans.append(lh.scan(spark, path, point={"cell": c}))
    return reduce(DataFrame.unionByName, scans)


def _ivf_probe_lists(
    spark: SparkSession, queries: DataFrame, cent_t: DataFrame, lists_path: str
) -> DataFrame:
    """Probe the persisted inverted lists: the nprobe nearest cells per
    query, their pruned cell scans, exact cosine scoring within the
    candidates, top-k."""
    from pyspark.sql.window import Window

    qcells = nearest_cells(queries, cent_t)
    scored = (
        _cell_scan(spark, lists_path, qcells)
        .join(F.broadcast(qcells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(
                F.col("qe").cast("array<double>"),
                F.col("embedding").cast("array<double>"),
            ).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w_rank).cast("long")).filter(
        F.col("rank") <= K_NN
    )


@op(
    "stream_ann_index_maintenance",
    oracle=_ANN_ORACLE.format(nprobe=N_PROBE, k=K_NN, dotxy=_ANN_DOTXY),
    tags=("side_effect",),
)
def stream_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the persisted ANN index — the last
    unconnected pair (streaming → index) joined up: the SAME append
    batch lake_ann_index_probe applies in one shot here arrives as a
    FILE STREAM in two micro-batches, and each foreachBatch commits
    the corpus rows AND their cell assignments into the two lake
    tables via append_idempotent — exactly-once for the index, not
    just the data (the stream_sink_lake ledger contract, now also
    covering derived index state). r9: the two per-table commits
    publish through ONE catalog Transaction per micro-batch — the
    fact/index pair catalog.py's docstring names — so a catalog
    reader can NEVER observe the fact table ahead of its index
    (asserted in-op across every catalog snapshot; per-PATH readers
    keep the documented read-uncommitted caveat). After the drain the
    whole stream REPLAYS from a fresh checkpoint — total checkpoint
    loss, every batch redelivered — and both tables' versions AND the
    catalog version are asserted unchanged: a duplicated micro-batch
    cannot double-insert postings or publish a no-op pointer move.
    The probe then serves from the persisted index exactly as the
    batch op does, and the oracle is the SAME train-on-base/
    assign-the-union replay — streamed maintenance must be
    value-indistinguishable from batch maintenance.

    Scale: per-micro-batch work is O(batch) (assignment against the
    broadcast centroid table, one append per table); index freshness
    lags ingest by one trigger — the standard streaming-ANN shape
    (FAISS-style systems rebuild nightly; this maintains on arrival)."""
    import shutil as _shutil

    from lambda_hive_spark import catalog as _cat

    base_path = _fresh_table_dir("sann_base", sf_dir)
    cent_path = _fresh_table_dir("sann_cent", sf_dir)
    lists_path = _fresh_table_dir("sann_lists", sf_dir)
    land = _fresh_table_dir("sann_landing", sf_dir)
    os.makedirs(land, exist_ok=True)

    e = table(spark, sf_dir, "embeddings")
    lh.create(spark, base_path, e.repartition(4), key="vec_id")
    cent, lists = ivf_index(spark, sf_dir)
    lh.create(spark, cent_path, cent, key="cell")
    lh.create(spark, lists_path, lists, key="vec_id", partition_by=["cell"])
    cent_t = lh.read(spark, cent_path)
    cat = _cat.Catalog(_fresh_table_dir("sann_catalog", sf_dir))
    cat.create_table("corpus", base_path)
    cat.create_table("ann_index", lists_path)

    # the same %37 re-keyed delta as the batch twin, landed as TWO
    # parquet files so the stream runs two real micro-batches
    shift = e.agg(F.max("vec_id") + 1).collect()[0][0]
    delta = e.filter(F.col("vec_id") % 37 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(shift)
    )
    half = delta.agg(F.expr("percentile(vec_id, 0.5)")).collect()[0][0]
    delta.filter(F.col("vec_id") <= half).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "b0"))
    delta.filter(F.col("vec_id") > half).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(land, "b1"))

    def maintain(batch: DataFrame, bid: int) -> None:
        s = batch.sparkSession
        rows = batch.cache()
        # fact + index land as ordinary per-table idempotent commits,
        # then BOTH pointer moves publish in one catalog transaction —
        # no catalog snapshot can see the corpus ahead of its index
        txn = cat.transaction()
        lh.append_idempotent(
            s, txn.path("corpus"), rows, writer_id="sann", batch_id=bid
        )
        lh.append_idempotent(
            s,
            txn.path("ann_index"),
            assign_cells(rows, cent_t),
            writer_id="sann",
            batch_id=bid,
        )
        txn.stage("corpus")
        txn.stage("ann_index")
        if txn.dirty():
            txn.commit()  # a replayed (no-op) batch publishes nothing
        rows.unpersist()

    def run_pass() -> None:
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(land, "b*"))
        )
        core.drain(
            stream.writeStream.foreachBatch(maintain),
            "stream_ann_index_maintenance",
            os.path.join(land, "_ckpt"),
        )

    run_pass()
    v_base, v_lists = lh.current_version(base_path), lh.current_version(lists_path)
    assert v_lists >= 3, "expected at least two streamed index appends"
    v_cat = _cat.current_version(cat.root)
    _shutil.rmtree(os.path.join(land, "_ckpt"), ignore_errors=True)
    run_pass()  # fresh checkpoint: full redelivery — every batch must no-op
    assert lh.current_version(base_path) == v_base, "replay re-landed corpus rows"
    assert lh.current_version(lists_path) == v_lists, "replay re-landed index rows"
    assert _cat.current_version(cat.root) == v_cat, "replay moved catalog pointers"
    # fact-never-ahead-of-index: at EVERY catalog snapshot since both
    # tables registered, each corpus row has exactly one cell
    # assignment — a snapshot exposing the fact ahead of its index
    # would count more corpus rows than index postings (bounded loop:
    # one catalog version per micro-batch)
    for cv in range(3, v_cat + 1):
        n_fact = cat.read(spark, "corpus", catalog_version=cv).count()
        n_idx = cat.read(spark, "ann_index", catalog_version=cv).count()
        assert n_fact == n_idx, f"catalog v{cv}: fact {n_fact} != index {n_idx}"

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    result = _ivf_probe_lists(spark, q, cent_t, lists_path)

    persisted = lh.read(spark, lists_path).select("vec_id", "cell")
    rebuilt = assign_cells(lh.read(spark, base_path), cent_t).select("vec_id", "cell")
    drift = persisted.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(persisted))
    assert drift.count() == 0, "streamed index drifted from full rebuild"
    return result


LAKE_DV_ORACLE = """
WITH s AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders
  WHERE NOT COALESCE(o_orderkey % 5 = 0 AND o_totalprice < 150000.0, FALSE)
    AND NOT COALESCE(o_custkey % 7 = 0, FALSE)
)
SELECT o_orderkey, o_custkey, o_totalprice FROM s WHERE o_orderkey % 11 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, -o_totalprice AS o_totalprice
FROM orders WHERE o_orderkey % 11 = 0
"""


@op("lake_deletion_vector", oracle=LAKE_DV_ORACLE, tags=("side_effect",))
def lake_deletion_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE lifecycle through the table layer: orders
    lands range-partitioned by key into 8 files; TWO successive DV
    deletes (a priced slice of every 5th key, then every 7th
    customer's orders) record positions in log sidecars — the
    manifest's physical file set is asserted IDENTICAL across both
    commits (zero data files moved: the write-amplification contract
    copy-on-write cannot make), repeat-delete positions merge into
    one sidecar per entry, the pre-delete version stays readable, the
    tracked second delete's change feed serves exactly the NEWLY
    deleted pre-images; then a MERGE-ON-READ upsert (r9:
    merge_upsert(deletion_vectors=True)) replaces every 11th order
    with a negated-price post-image — matched survivors DV out, the
    batch appends, and every pre-existing file entry either keeps its
    exact path or is dropped outright (never rewritten). Batch keys
    whose rows were already DV-deleted come back as INSERTS of the
    batch row (the oracle's UNION ALL arm covers deleted keys too).
    Finally a compact() MATERIALIZES everything (no dv survives;
    physical rows equal the logical count) with net_rows == 0 for the
    layout-only commit. The head read-back must equal the relational
    expression (NOT COALESCE per predicate: DELETE removes only
    p IS TRUE, so NULL-predicate rows survive — the heavy-null lesson
    lake_delete_where carries).

    Scale: this is THE trickle-mutation answer at 100 TB — GDPR
    erasure or a bad producer's rows cost O(deleted positions), a
    trickle UPDATE costs O(batch + matched positions), never O(touched
    files rewritten); reads pay one broadcast anti-join at the single
    choke point every verb scans through (lakehouse.py
    _read_snapshot_files)."""
    path = _fresh_table_dir("dv", sf_dir)
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lh.create(spark, path, base.repartitionByRange(8, "o_orderkey"), key="o_orderkey")
    files_v1 = sorted(f["path"] for f in lh.read_manifest(path)["files"])
    n_base = base.count()

    lh.delete_where(
        spark,
        path,
        "o_orderkey % 5 = 0 AND o_totalprice < 150000.0",
        deletion_vectors=True,
    )
    n_mid = lh.read(spark, path).count()
    v2 = lh.delete_where(
        spark,
        path,
        "o_custkey % 7 = 0",
        deletion_vectors=True,
        track_changes=True,
    )
    head = lh.read(spark, path)
    n_head = head.count()
    m = lh.read_manifest(path)
    assert (
        sorted(f["path"] for f in m["files"]) == files_v1
    ), "DV delete moved data files"
    assert lh.read(spark, path, version=1).count() == n_base  # time travel
    assert lh.read(spark, path, version=2).count() == n_mid  # mid-state too
    feed = lh.read_changes(spark, path, v2)
    assert feed.count() == n_mid - n_head, "feed must carry NEW pre-images only"

    batch = base.filter("o_orderkey % 11 = 0").withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    pre_merge_paths = {f["path"] for f in m["files"]}
    lh.merge_upsert(spark, path, batch, deletion_vectors=True)
    mm = lh.read_manifest(path)
    assert mm["action"] == "merge_dv"
    surviving_old = {f["path"] for f in mm["files"] if f["path"] in pre_merge_paths}
    assert surviving_old <= pre_merge_paths, "merge rewrote a pre-existing file"
    assert any(
        f["path"] not in pre_merge_paths for f in mm["files"]
    ), "merge appended no post-image files"
    n_merged = lh.read(spark, path).count()

    lh.compact(spark, path, num_files=2)
    mc = lh.read_manifest(path)
    assert not any(f.get("dv") for f in mc["files"]), "compact left a dv"
    assert sum(f["rows"] for f in mc["files"]) == n_merged, "compact kept deleted rows"
    assert mc["metrics"]["net_rows"] == 0, "materialization is layout-only"
    return lh.read(spark, path)


CATALOG_TXN_ORACLE = f"""
WITH led AS (
  SELECT o_orderkey AS k, o_totalprice AS amt FROM orders WHERE o_orderkey % 4 = 1
), bal AS (
  SELECT o_custkey AS k, {sql_dsum("o_totalprice", prec=38)} AS amt
  FROM orders WHERE o_orderkey % 4 = 1 GROUP BY o_custkey
), delta AS (
  SELECT o_orderkey AS k, o_totalprice AS amt FROM orders WHERE o_orderkey % 4 = 3
)
SELECT 'ledger_pre' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows FROM led
UNION ALL SELECT 'balances_pre', CAST(COUNT(*) AS BIGINT) FROM bal
UNION ALL SELECT 'ledger_post', CAST((SELECT COUNT(*) FROM led) + COUNT(*) AS BIGINT) FROM delta
UNION ALL SELECT 'balances_post', CAST((SELECT COUNT(*) FROM bal) + COUNT(*) AS BIGINT) FROM delta
"""


@op("catalog_txn_atomic", oracle=CATALOG_TXN_ORACLE, tags=("side_effect",))
def catalog_txn_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic multi-table transaction through the name catalog
    (catalog.py): a ledger and a balances table register under names,
    one Transaction appends a delta batch to BOTH and publishes the
    two pointer moves in ONE catalog commit. The op reads both tables
    THROUGH the catalog at the pre- and post-transaction catalog
    snapshots and returns the four (table, phase) row counts — the
    oracle recomputes them relationally, so the driver hash-gates that
    NO catalog snapshot shows a torn transaction (ledger moved,
    balances not). In-op asserts: the transaction is exactly one
    catalog version; at the PRE snapshot neither table shows the
    delta even though both per-table commits already exist in the
    table logs (the pin IS the isolation); a racing second
    transaction on the same base raises CatalogConflict and publishes
    nothing.

    Scale: the catalog is a pointer file — transaction cost is
    O(tables touched) metadata, independent of data size; this is the
    Iceberg-REST-catalog shape, the only multi-table atomicity design
    that survives 100 TB (coordinating data-file publication would
    not)."""
    root = _fresh_table_dir("cattxn", sf_dir)
    led_path = f"{root}/ledger"
    bal_path = f"{root}/balances"
    seed = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 4 = 1")
        .select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("amt"))
    )
    bal_seed = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 4 = 1")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(dsum("o_totalprice", prec=38).alias("amt"))
    )
    lh.create(spark, led_path, seed.repartition(4), key="k")
    lh.create(spark, bal_path, bal_seed.repartition(4), key="k")
    c = cat.Catalog(root)
    c.create_table("ledger", led_path)
    c.create_table("balances", bal_path)
    pre_v = cat.current_version(root)

    delta = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 4 = 3")
        .select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("amt"))
    )
    txn = c.transaction()
    rival = c.transaction()  # same base — must lose
    lh.append(spark, txn.path("ledger"), delta)
    lh.append(spark, txn.path("balances"), delta)
    txn.stage("ledger")
    txn.stage("balances")
    # staged but unpublished: catalog readers still see the base pins
    assert c.read(spark, "ledger").count() == seed.count()
    post_v = txn.commit()
    assert post_v == pre_v + 1, "transaction must be ONE catalog commit"
    rival.stage("ledger")
    try:
        rival.commit()
        raise AssertionError("racing transaction on the same base committed")
    except cat.CatalogConflict:
        pass

    rows = [
        ("ledger_pre", c.read(spark, "ledger", catalog_version=pre_v).count()),
        ("balances_pre", c.read(spark, "balances", catalog_version=pre_v).count()),
        ("ledger_post", c.read(spark, "ledger", catalog_version=post_v).count()),
        ("balances_post", c.read(spark, "balances", catalog_version=post_v).count()),
    ]
    return spark.createDataFrame(rows, "tbl string, n_rows long")
