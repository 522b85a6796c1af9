"""Lakehouse-lite protocol tests (lambda_hive_spark/lakehouse.py).

The ACID properties a table layer must actually deliver, each provoked
directly: atomic publish (create-exclusive manifest link), snapshot
isolation under concurrent commits, time travel across appends AND
across compaction, stats-pruned MERGE (asserting files were really
skipped, not just results correct), optimistic-concurrency races
(losers retry; nothing lost, nothing duplicated), write-write conflict
detection on overlapping merges, and vacuum's retention horizon.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

import pytest

from pyspark.sql import functions as F

from lambda_hive_spark import lakehouse as lh
from tests.conftest import SF_DIR as SF


def _mk(spark, tmp_path, n=100, files=4):
    """A fresh keyed lake table: ids 0..n-1, val = id * 10."""
    path = str(tmp_path / "tbl")
    df = (
        spark.range(n)
        .select(F.col("id").cast("long"), (F.col("id") * 10).alias("val"))
        .repartition(files)
    )
    v = lh.create(spark, path, df, key="id")
    assert v == 1
    return path


def _rows(df):
    return sorted((r["id"], r["val"]) for r in df.collect())


def test_create_read_roundtrip(spark, tmp_path):
    path = _mk(spark, tmp_path)
    got = _rows(lh.read(spark, path))
    assert got == [(i, i * 10) for i in range(100)]
    # manifest carries footer stats for every file
    m = lh.read_manifest(path)
    assert m["key"] == "id" and m["version"] == 1
    assert all(f["rows"] > 0 and f["min_key"] is not None for f in m["files"])
    assert sum(f["rows"] for f in m["files"]) == 100


def test_create_refuses_existing(spark, tmp_path):
    path = _mk(spark, tmp_path)
    with pytest.raises(FileExistsError):
        lh.create(spark, path, spark.range(1).withColumn("val", F.lit(0)), key="id")


def test_append_and_time_travel(spark, tmp_path):
    path = _mk(spark, tmp_path, n=50)
    lh.append(spark, path, spark.range(50, 80).select("id", (F.col("id") * 10).alias("val")))
    assert lh.current_version(path) == 2
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(80)]
    # version 1 still reads exactly the original snapshot
    assert _rows(lh.read(spark, path, version=1)) == [(i, i * 10) for i in range(50)]


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = _mk(spark, tmp_path, n=100)
    updates = spark.createDataFrame(
        [(5, -1), (50, -2), (200, -3)], "id long, val long"
    )
    lh.merge_upsert(spark, path, updates)
    got = dict(_rows(lh.read(spark, path)))
    assert got[5] == -1 and got[50] == -2 and got[200] == -3  # replaced + inserted
    assert got[6] == 60  # untouched row intact
    assert len(got) == 101  # 100 originals, 2 replaced in place, 1 insert


def test_merge_prunes_files_by_key_stats(spark, tmp_path):
    # Keys written range-partitioned so each file owns a key range:
    # a narrow update batch must rewrite ONLY the intersecting file(s).
    path = str(tmp_path / "pruned")
    df = (
        spark.range(1000)
        .select("id", (F.col("id") * 10).alias("val"))
        .repartitionByRange(10, "id")
    )
    lh.create(spark, path, df, key="id")
    before = {f["path"] for f in lh.read_manifest(path)["files"]}
    n_before = len(before)
    assert n_before >= 8  # range partitioning really split the keys

    lh.merge_upsert(
        spark, path, spark.createDataFrame([(7, -7)], "id long, val long")
    )
    after = lh.read_manifest(path)["files"]
    carried = sum(1 for f in after if f["path"] in before)
    # all but the one file owning key 7 must be carried by reference
    assert carried >= n_before - 2, "stats pruning rewrote non-intersecting files"
    got = dict(_rows(lh.read(spark, path)))
    assert got[7] == -7 and got[8] == 80 and len(got) == 1000


def test_snapshot_isolation_reader_unaffected_by_commit(spark, tmp_path):
    path = _mk(spark, tmp_path, n=40)
    pinned = lh.read(spark, path, version=1)  # plan resolved against v1
    lh.merge_upsert(
        spark, path, spark.createDataFrame([(0, -99)], "id long, val long")
    )
    # the pinned snapshot still reads the ORIGINAL data: v1's files are
    # immutable and still on disk (no vacuum has run)
    assert dict(_rows(pinned))[0] == 0
    assert dict(_rows(lh.read(spark, path)))[0] == -99


def test_compaction_preserves_rows_and_time_travel(spark, tmp_path):
    path = _mk(spark, tmp_path, n=60, files=6)
    lh.append(spark, path, spark.range(60, 70).select("id", (F.col("id") * 10).alias("val")))
    n_files_before = len(lh.read_manifest(path)["files"])
    v = lh.compact(spark, path, num_files=1)
    m = lh.read_manifest(path, v)
    assert len(m["files"]) < n_files_before
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(70)]
    # time travel across the compaction boundary
    assert _rows(lh.read(spark, path, version=1)) == [(i, i * 10) for i in range(60)]


def test_occ_race_serializes_appends(spark, tmp_path):
    # Two writers race append commits from threads; the create-exclusive
    # link forces one to retry. Both batches must land, exactly once.
    path = _mk(spark, tmp_path, n=10)
    b1 = spark.range(100, 150).select("id", (F.col("id") * 10).alias("val"))
    b2 = spark.range(200, 250).select("id", (F.col("id") * 10).alias("val"))
    errs = []

    def run(df):
        try:
            lh.append(spark, path, df)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    t1, t2 = threading.Thread(target=run, args=(b1,)), threading.Thread(target=run, args=(b2,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert lh.current_version(path) == 3  # strictly serialized versions
    got = _rows(lh.read(spark, path))
    assert len(got) == 110 and len(set(got)) == 110


def test_overlapping_merges_conflict_and_converge(spark, tmp_path):
    # Two merges touching the SAME key range: the loser must detect the
    # write-write conflict (its survivors were computed from a stale
    # file) and recompute — final state reflects both, applied serially.
    path = _mk(spark, tmp_path, n=20, files=1)
    u1 = spark.createDataFrame([(3, -3)], "id long, val long")
    u2 = spark.createDataFrame([(4, -4)], "id long, val long")
    errs = []

    def run(u):
        try:
            lh.merge_upsert(spark, path, u)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1, t2 = threading.Thread(target=run, args=(u1,)), threading.Thread(target=run, args=(u2,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = dict(_rows(lh.read(spark, path)))
    assert got[3] == -3 and got[4] == -4 and len(got) == 20
    # no orphaned duplicates from the losing attempt
    assert sorted(got) == list(range(20))


def test_vacuum_enforces_retention_horizon(spark, tmp_path):
    path = _mk(spark, tmp_path, n=30, files=3)
    lh.merge_upsert(spark, path, spark.createDataFrame([(0, -1)], "id long, val long"))
    lh.compact(spark, path, num_files=1)
    assert lh.current_version(path) == 3
    deleted = lh.vacuum(path, keep_last=1)
    assert deleted, "vacuum should reclaim files unreferenced by the head"
    # head still fully readable
    got = dict(_rows(lh.read(spark, path)))
    assert got[0] == -1 and len(got) == 30
    # time travel beyond the horizon is gone — by design
    with pytest.raises(FileNotFoundError):
        lh.read_manifest(path, 1)


def test_manifest_is_valid_json_with_lineage(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    lh.append(spark, path, spark.range(10, 12).select("id", (F.col("id") * 10).alias("val")))
    m2 = json.load(open(os.path.join(path, "_log", "00000002.json")))
    assert m2["parent"] == 1 and m2["action"] == "append"


def _widened(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", (F.col("id") * 10).alias("val"), (F.col("id") % 2 == 0).alias("flag")
    )


def test_append_refuses_silent_schema_drift(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    with pytest.raises(lh.SchemaMismatch):
        lh.append(spark, path, _widened(spark, 10, 12))
    assert lh.current_version(path) == 1  # refused BEFORE committing


def test_schema_evolution_null_fills_old_files(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    lh.append(spark, path, _widened(spark, 10, 14), merge_schema=True)
    head = {r["id"]: r for r in lh.read(spark, path).collect()}
    assert len(head) == 14
    assert all(head[i]["flag"] is None for i in range(10))      # pre-evolution rows
    assert all(head[i]["flag"] == (i % 2 == 0) for i in range(10, 14))
    # time travel to v1 resolves the PRE-evolution schema: no flag column
    assert lh.read(spark, path, version=1).columns == ["id", "val"]


def test_merge_and_compact_preserve_evolved_schema(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10, files=2)
    lh.append(spark, path, _widened(spark, 10, 14), merge_schema=True)
    # updates batch OMITS the evolved column -> its rows null-fill it
    lh.merge_upsert(spark, path, spark.createDataFrame([(12, -1)], "id long, val long"))
    got = {r["id"]: r for r in lh.read(spark, path).collect()}
    assert got[12]["val"] == -1 and got[12]["flag"] is None
    assert got[13]["flag"] is False and got[0]["flag"] is None
    v = lh.compact(spark, path, num_files=1)
    got2 = {r["id"]: r for r in lh.read(spark, path, version=v).collect()}
    assert {i: (r["val"], r["flag"]) for i, r in got.items()} == {
        i: (r["val"], r["flag"]) for i, r in got2.items()
    }


def test_stats_pruned_scan_skips_files_and_keeps_values(spark, tmp_path):
    path = str(tmp_path / "prune")
    df = spark.range(80).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    ).repartitionByRange(8, "id")
    lh.create(spark, path, df, key="id")
    planned = lh.plan_files(path, key_min=0, key_max=9)
    assert len(planned) < 8
    got = sorted(r["id"] for r in lh.scan(spark, path, key_min=0, key_max=9).collect())
    assert got == list(range(10))
    # boundary: a file whose max == key_min must be planned, not skipped
    planned_edge = lh.plan_files(path, key_min=max(f["max_key"] for f in planned))
    assert any(f["path"] == planned[-1]["path"] for f in planned_edge) or planned_edge


def test_scan_empty_range_returns_empty_with_schema(spark, tmp_path):
    path = _mk(spark, tmp_path, n=20, files=2)
    out = lh.scan(spark, path, key_min=10_000, key_max=20_000)
    assert out.columns == ["id", "val"] and out.count() == 0


def test_scan_reads_one_snapshot_under_a_racing_dv_merge(spark, tmp_path, monkeypatch):
    """scan resolves the head once. A DV merge of key 3 that commits
    right after that manifest read must not leak into the scan: neither
    its post-image file nor its new deletion vector, so key 3 comes
    back once, at its pre-merge value."""
    path = str(tmp_path / "torn")
    df = spark.range(20).select(
        F.col("id").cast("long"), F.col("id").cast("double").alias("val")
    )
    lh.create(spark, path, df.repartition(2), key="id")
    upd = spark.createDataFrame([(3, 300.0)], "id long, val double")
    real = lh.read_manifest
    fired = []

    def racing(p, version=None):
        m = real(p, version)
        if not fired:  # the merge's own manifest reads pass through
            fired.append(True)
            lh.merge_upsert(spark, path, upd, deletion_vectors=True)
        return m

    monkeypatch.setattr(lh, "read_manifest", racing)
    got = [(r["id"], r["val"]) for r in lh.scan(spark, path, key_min=0, key_max=100).collect()]
    monkeypatch.undo()
    assert fired and lh.current_version(path) == 2
    assert len({k for k, _ in got}) == len(got) == 20
    assert sorted(got) == sorted((r["id"], r["val"]) for r in lh.read(spark, path, 1).collect())


def test_append_idempotent_dedups_replayed_batches(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    b = spark.range(10, 15).select("id", (F.col("id") * 10).alias("val"))
    v1 = lh.append_idempotent(spark, path, b, writer_id="w", batch_id=0)
    v2 = lh.append_idempotent(spark, path, b, writer_id="w", batch_id=0)  # replay
    assert v2 == v1  # no-op: no new version
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(15)]
    # a DIFFERENT writer with the same batch id is independent
    c = spark.range(15, 16).select("id", (F.col("id") * 10).alias("val"))
    v3 = lh.append_idempotent(spark, path, c, writer_id="w2", batch_id=0)
    assert v3 == v1 + 1 and lh.read(spark, path).count() == 16
    # stale (lower) batch id is also a no-op
    assert lh.append_idempotent(spark, path, c, writer_id="w2", batch_id=0) == v3


def test_txn_ledger_survives_compaction_and_merge(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10, files=2)
    b = spark.range(10, 12).select("id", (F.col("id") * 10).alias("val"))
    lh.append_idempotent(spark, path, b, writer_id="w", batch_id=7)
    lh.merge_upsert(spark, path, spark.createDataFrame([(0, -1)], "id long, val long"))
    lh.compact(spark, path, num_files=1)
    # the ledger must still refuse the replay after unrelated commits
    v = lh.current_version(path)
    assert lh.append_idempotent(spark, path, b, writer_id="w", batch_id=7) == v
    assert lh.read(spark, path).count() == 12


def test_create_empty_seed_then_read(spark, tmp_path):
    path = str(tmp_path / "seeded")
    seed = spark.createDataFrame([], "id long, val long").repartition(1)
    lh.create(spark, path, seed, key="id")
    out = lh.read(spark, path)
    assert out.columns == ["id", "val"] and out.count() == 0


def test_read_incremental_file_diff_and_rewrite_redelivery(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10, files=2)  # v1
    lh.append(spark, path, spark.range(10, 14).select("id", (F.col("id") * 10).alias("val")))  # v2
    got = sorted(r["id"] for r in lh.read_incremental(spark, path, 1, 2).collect())
    assert got == [10, 11, 12, 13]
    # evolved column null-fills for an increment read under a newer schema
    lh.append(spark, path, _widened(spark, 14, 16), merge_schema=True)  # v3
    inc = {r["id"]: r for r in lh.read_incremental(spark, path, 1).collect()}
    assert set(inc) == set(range(10, 16))
    assert inc[10]["flag"] is None and inc[15]["flag"] is not None
    # a merge REWRITES touched files -> their surviving rows redeliver
    lh.merge_upsert(spark, path, spark.createDataFrame([(0, -1)], "id long, val long"))  # v4
    redelivered = sorted(r["id"] for r in lh.read_incremental(spark, path, 3).collect())
    assert 0 in redelivered  # the updated key
    assert all(i < 10 for i in redelivered)  # only the rewritten file's rows


def test_zorder_clustering_improves_nonleading_column_pruning(spark, tmp_path):
    path = str(tmp_path / "z")
    # y is hash-scattered (independent of x): the range layout on x
    # puts the full y range in EVERY file, so a y predicate prunes
    # nothing — the exact situation Z-ordering exists to fix.
    df = spark.range(4096).select(
        F.col("id").alias("x"), (F.col("id") * 2654435761 % 4096).alias("y")
    )
    lh.create(spark, path, df.repartitionByRange(8, "x"), key="x")
    box = {"y": (0, 511)}
    before = len(lh.plan_files(path, predicates=box))
    assert before == 8  # y scattered everywhere: zero skipping
    v = lh.zorder_cluster(spark, path, ["x", "y"], num_files=8)
    after = len(lh.plan_files(path, predicates=box))
    assert after < before, (before, after)
    # values are exactly the relational filter, post cluster
    expect = sorted((r["x"], r["y"]) for r in df.filter("y <= 511").collect())
    got = sorted(
        (r["x"], r["y"])
        for r in lh.scan(spark, path, predicates=box).collect()
    )
    assert got == expect
    # rows preserved bit-for-bit; old layout still time-travelable
    assert lh.read(spark, path).count() == 4096
    assert lh.read(spark, path, version=v - 1).count() == 4096
    assert lh.read_manifest(path)["zorder_by"] == ["x", "y"]


def test_multi_column_predicates_keep_files_without_stats(spark, tmp_path):
    path = _mk(spark, tmp_path, n=20, files=2)
    # a predicate on an unknown/untracked column must not skip anything
    assert len(lh.plan_files(path, predicates={"nope": (0, 1)})) == 2


def test_change_feed_pre_post_images_and_inserts(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10, files=2)  # v1
    ups = spark.createDataFrame([(3, -3), (4, -4), (100, 1000)], "id long, val long")
    v = lh.merge_upsert(spark, path, ups, track_changes=True)  # v2
    feed = [(r["_change_type"], r["id"], r["val"]) for r in lh.read_changes(spark, path, v).collect()]
    assert sorted(feed) == [
        ("insert", 100, 1000),
        ("update_postimage", 3, -3),
        ("update_postimage", 4, -4),
        ("update_preimage", 3, 30),
        ("update_preimage", 4, 40),
    ]
    # append CDF serves inserts from the file diff, no extra copies
    lh.append(spark, path, spark.range(200, 202).select("id", (F.col("id") * 10).alias("val")))  # v3
    ins = sorted(r["id"] for r in lh.read_changes(spark, path, v + 1).collect())
    assert ins == [200, 201]
    # create CDF: the whole first snapshot is inserts
    assert lh.read_changes(spark, path, 1).count() == 10
    # compaction is layout-only: empty feed
    cv = lh.compact(spark, path, num_files=1)
    assert lh.read_changes(spark, path, cv).count() == 0


def test_change_feed_refuses_untracked_merge(spark, tmp_path):
    path = _mk(spark, tmp_path, n=6)
    v = lh.merge_upsert(spark, path, spark.createDataFrame([(0, -1)], "id long, val long"))
    with pytest.raises(ValueError):
        lh.read_changes(spark, path, v)


def test_vacuum_reclaims_change_files(spark, tmp_path):
    path = _mk(spark, tmp_path, n=6)
    lh.merge_upsert(
        spark, path, spark.createDataFrame([(0, -1)], "id long, val long"),
        track_changes=True,
    )
    chg = lh.read_manifest(path, 2)["changes"]
    assert chg and all(os.path.exists(p) for p in chg)
    lh.compact(spark, path, num_files=1)  # v3
    deleted = lh.vacuum(path, keep_last=1)
    assert all(not os.path.exists(p) for p in chg)
    assert any(p in deleted for p in chg)
    # the emptied changes/<uuid> dir (Spark's _SUCCESS/.crc) goes too
    assert os.listdir(os.path.join(path, "changes")) == []


def test_ivm_two_cycles_track_full_recompute(spark, tmp_path):
    """Incremental view maintenance composes across commits: two
    merge+refresh cycles (price updates touching an all-NULL-price
    group, then inserts for a brand-new group), and after EACH cycle
    the incrementally-maintained state table equals a from-scratch
    recompute of the head snapshot — including the non-null-count
    column that lets SUM's null-skipping survive retraction."""
    from lambda_hive_spark.operators.lake import (
        _orders_group_state,
        ivm_refresh_view,
    )

    base_path = str(tmp_path / "base")
    mv_path = str(tmp_path / "mv")
    orders = spark.range(60).select(
        F.col("id").cast("long").alias("o_orderkey"),
        (F.col("id") % 7).cast("long").alias("o_custkey"),
        # customer 6 is all-NULL-priced: the state's nn_price_count
        # must keep its total_micros emitting NULL through refreshes
        F.when(F.col("id") % 7 != 6, F.col("id") * 1.25 + 3.5).alias(
            "o_totalprice"
        ),
    )
    lh.create(spark, base_path, orders.repartition(4), key="o_orderkey")
    lh.create(
        spark,
        mv_path,
        _orders_group_state(lh.read(spark, base_path)),
        key="o_custkey",
    )

    def assert_synced():
        inc = sorted(map(tuple, lh.read(spark, mv_path).collect()))
        full = sorted(
            map(tuple, _orders_group_state(lh.read(spark, base_path)).collect())
        )
        assert inc == full

    # cycle 1: every 5th key price-doubled (NULL prices stay NULL)
    u1 = (
        lh.read(spark, base_path)
        .filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    v1 = lh.merge_upsert(spark, base_path, u1, track_changes=True)
    ivm_refresh_view(spark, base_path, mv_path, v1)
    assert_synced()

    # cycle 2: ten inserts for a customer the view has never seen
    u2 = spark.range(60, 70).select(
        F.col("id").cast("long").alias("o_orderkey"),
        F.lit(99).cast("long").alias("o_custkey"),
        (F.col("id") * 2.0).alias("o_totalprice"),
    )
    v2 = lh.merge_upsert(spark, base_path, u2, track_changes=True)
    ivm_refresh_view(spark, base_path, mv_path, v2)
    assert_synced()


def test_delete_where_removes_rows_feeds_changes_time_travels(spark, tmp_path):
    path = _mk(spark, tmp_path)  # ids 0..99, val = id*10
    v = lh.delete_where(spark, path, "val >= 800", track_changes=True)
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(80)]
    assert _rows(lh.read(spark, path, version=1)) == [
        (i, i * 10) for i in range(100)
    ]  # pre-delete version intact
    feed = lh.read_changes(spark, path, v)
    assert sorted(r["id"] for r in feed.collect()) == list(range(80, 100))
    assert feed.select("_change_type").distinct().collect()[0][0] == "delete"


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """DELETE WHERE p removes rows where p IS TRUE — FALSE and NULL
    both survive (SQL WHERE semantics)."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, val long"
    )
    lh.create(spark, path, df, key="id")
    lh.delete_where(spark, path, "val > 20")
    assert sorted(r["id"] for r in lh.read(spark, path).collect()) == [1, 2]


def test_delete_prunes_files_outside_stats_box(spark, tmp_path):
    """Files the prune box's footer stats clear carry over BY
    REFERENCE — same path objects in the new manifest, no rewrite."""
    path = str(tmp_path / "tbl")
    df = (
        spark.range(100)
        .select(F.col("id").cast("long"), (F.col("id") * 10).alias("val"))
        .repartitionByRange(4, "id")
    )
    lh.create(spark, path, df, key="id")
    before = {f["path"] for f in lh.read_manifest(path)["files"]}
    lh.delete_where(spark, path, "id >= 90", prune={"id": (90, None)})
    after = {f["path"] for f in lh.read_manifest(path)["files"]}
    assert len(before & after) >= 2  # low-range files untouched
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(90)]


def test_delete_untracked_refuses_change_feed(spark, tmp_path):
    path = _mk(spark, tmp_path)
    v = lh.delete_where(spark, path, "id = 1")
    with pytest.raises(ValueError, match="delete committed without"):
        lh.read_changes(spark, path, v)


def test_ivm_delete_cycle_removes_emptied_group(spark, tmp_path):
    """Cycle 3 of the IVM protocol: a tracked DELETE that empties one
    customer's group must remove that group from the view entirely
    (via the pruned view delete), while partially-deleted groups just
    retract."""
    from lambda_hive_spark.operators.lake import (
        _orders_group_state,
        ivm_refresh_view,
    )

    base_path = str(tmp_path / "base")
    mv_path = str(tmp_path / "mv")
    orders = spark.range(40).select(
        F.col("id").cast("long").alias("o_orderkey"),
        (F.col("id") % 4).cast("long").alias("o_custkey"),
        (F.col("id") * 1.5 + 1.0).alias("o_totalprice"),
    )
    lh.create(spark, base_path, orders.repartition(4), key="o_orderkey")
    lh.create(
        spark,
        mv_path,
        _orders_group_state(lh.read(spark, base_path)),
        key="o_custkey",
    )
    # customer 3 loses ALL rows; customer 2 loses only high orderkeys
    v = lh.delete_where(
        spark,
        base_path,
        "o_custkey = 3 OR (o_custkey = 2 AND o_orderkey >= 20)",
        track_changes=True,
    )
    ivm_refresh_view(spark, base_path, mv_path, v)
    inc = sorted(map(tuple, lh.read(spark, mv_path).collect()))
    full = sorted(
        map(tuple, _orders_group_state(lh.read(spark, base_path)).collect())
    )
    assert inc == full
    assert sorted(r[0] for r in inc) == [0, 1, 2]  # group 3 gone


# ---------------------------------------------------------------- bloom index


def _mk_sparse(spark, tmp_path, n=100, files=4):
    """Even ids only, ROUND-ROBIN partitioned: every file's (min,max)
    id range spans ~the whole domain, so footer stats cannot prune a
    point lookup — the layout bloom filters exist for. Odd ids are
    in-range but absent (a stats-equality plan keeps every file for
    them; only the bloom can say 'definitely not here')."""
    path = str(tmp_path / "btbl")
    df = (
        spark.range(n)
        .select((F.col("id") * 2).alias("id"), (F.col("id") * 20).alias("val"))
        .repartition(files)
    )
    lh.create(spark, path, df, key="id")
    return path


def test_bloom_point_lookup_prunes_and_finds(spark, tmp_path):
    path = _mk_sparse(spark, tmp_path)
    lh.bloom_index(spark, path, "id")
    n_total = len(lh.read_manifest(path)["files"])
    # stats keep nearly everything (round-robin layout); bloom narrows
    # to the file(s) that can actually contain the value
    stats_only = len(lh.plan_files(path, predicates={"id": (100, 100)}))
    planned = len(lh.plan_files(path, point={"id": 100}))
    assert 1 <= planned < stats_only <= n_total
    assert _rows(lh.scan(spark, path, point={"id": 100})) == [(100, 1000)]


def test_bloom_absent_inrange_value_plans_zero_files(spark, tmp_path):
    path = _mk_sparse(spark, tmp_path)
    lh.bloom_index(spark, path, "id")
    # odd ids sit inside every file's stats range but in no file
    assert lh.plan_files(path, point={"id": 51}) == []
    assert lh.scan(spark, path, point={"id": 51}).count() == 0


def test_bloom_false_positive_rate_is_sane(spark, tmp_path):
    path = _mk_sparse(spark, tmp_path, n=200, files=4)
    lh.bloom_index(spark, path, "id")
    # 200 absent probes: at ~1% per-file fpp, kept files ≈ 8 of 800
    kept = sum(len(lh.plan_files(path, point={"id": 2 * i + 1})) for i in range(200))
    assert kept <= 80  # 10× headroom over the expected fpp


def test_bloom_unindexed_files_conservatively_kept(spark, tmp_path):
    path = _mk_sparse(spark, tmp_path)
    lh.bloom_index(spark, path, "id")
    late = spark.createDataFrame([(501, -1), (509, -1)], "id long, val long")
    lh.append(spark, path, late)
    # 501 is odd (absent from every indexed file → bloom prunes them
    # all); the new file has no bitset, so it MUST be kept — found
    assert _rows(lh.scan(spark, path, point={"id": 501})) == [(501, -1)]
    # 505 is absent everywhere, but sits inside the new file's stats
    # range: only conservative keeping of the unindexed file remains
    assert len(lh.plan_files(path, point={"id": 505})) == 1
    assert lh.scan(spark, path, point={"id": 505}).count() == 0


def test_bloom_survives_merge_and_string_columns(spark, tmp_path):
    path = str(tmp_path / "stbl")
    df = spark.createDataFrame(
        [(i, f"name-{i:04d}") for i in range(0, 100, 2)], "id long, name string"
    ).repartition(4)
    lh.create(spark, path, df, key="id")
    lh.bloom_index(spark, path, "name")
    assert lh.plan_files(path, point={"name": "name-0051"}) == []
    got = lh.scan(spark, path, point={"name": "name-0050"}).collect()
    assert [(r["id"], r["name"]) for r in got] == [(50, "name-0050")]
    # a merge rewrites files → rewritten files lack bitsets → kept
    lh.merge_upsert(
        spark,
        path,
        spark.createDataFrame([(50, "name-XXXX")], "id long, name string"),
    )
    assert _plan_names(path, "name-XXXX") >= 1  # new file conservatively kept
    assert lh.scan(spark, path, point={"name": "name-XXXX"}).count() == 1


def _plan_names(path, name):
    return len(lh.plan_files(path, point={"name": name}))


def test_bloom_rejects_uncanonical_column_types(spark, tmp_path):
    path = str(tmp_path / "ftbl")
    df = spark.createDataFrame([(1, 1.5)], "id long, x double")
    lh.create(spark, path, df, key="id")
    with pytest.raises(TypeError):
        lh.bloom_index(spark, path, "x")


def test_vacuum_reaps_orphaned_bloom_sidecars(spark, tmp_path):
    path = _mk_sparse(spark, tmp_path)
    lh.bloom_index(spark, path, "id")
    old_sidecar = lh.read_manifest(path)["bloom"]["id"]["sidecar"]
    lh.bloom_index(spark, path, "id")  # supersedes the first index
    new_sidecar = lh.read_manifest(path)["bloom"]["id"]["sidecar"]
    assert old_sidecar != new_sidecar
    lh.vacuum(path, keep_last=1)
    assert not os.path.exists(old_sidecar)
    assert os.path.exists(new_sidecar)
    assert len(lh.plan_files(path, point={"id": 51})) == 0  # index still live


# -------------------------------------------------------------------- restore


def test_restore_rewinds_content_keeps_history_and_ledger(spark, tmp_path):
    path = _mk(spark, tmp_path, n=50)
    batch = spark.range(50, 60).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    )
    lh.append_idempotent(spark, path, batch, writer_id="w", batch_id=7)
    assert lh.read(spark, path).count() == 60
    v = lh.restore(spark, path, 1)
    assert v == 3
    # content rewound...
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(50)]
    # ...history intact (the undone append still time-travels)...
    assert lh.read(spark, path, version=2).count() == 60
    # ...and the ledger did NOT rewind: the replayed batch stays a no-op
    v2 = lh.append_idempotent(spark, path, batch, writer_id="w", batch_id=7)
    assert v2 == 3 and lh.read(spark, path).count() == 50


def test_restore_of_restore_and_schema(spark, tmp_path):
    path = _mk(spark, tmp_path, n=20)
    widened = spark.range(20, 30).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val"), F.lit("x").alias("tag")
    )
    lh.append(spark, path, widened, merge_schema=True)
    lh.restore(spark, path, 1)  # back to the 2-column snapshot
    assert lh.read(spark, path).columns == ["id", "val"]
    lh.restore(spark, path, 2)  # forward again to the evolved snapshot
    assert lh.read(spark, path).columns == ["id", "val", "tag"]
    assert lh.read(spark, path).count() == 30


def test_restore_past_vacuum_horizon_refuses(spark, tmp_path):
    path = _mk(spark, tmp_path, n=30)
    lh.compact(spark, path, num_files=1)
    lh.vacuum(path, keep_last=1)
    with pytest.raises(FileNotFoundError):
        lh.restore(spark, path, 1)


def test_bloom_multi_column_indexes_coexist_and_intersect(spark, tmp_path):
    path = str(tmp_path / "mtbl")
    df = spark.createDataFrame(
        [(i, f"name-{i:04d}", f"tag-{i % 7}") for i in range(0, 100, 2)],
        "id long, name string, tag string",
    ).repartition(4)
    lh.create(spark, path, df, key="id")
    lh.bloom_index(spark, path, "id")
    lh.bloom_index(spark, path, "name")
    blooms = lh.read_manifest(path)["bloom"]
    assert set(blooms) == {"id", "name"}
    # each index prunes its own column...
    assert lh.plan_files(path, point={"id": 51}) == []
    assert lh.plan_files(path, point={"name": "name-0051"}) == []
    # ...a multi-column probe intersects them...
    assert lh.plan_files(path, point={"id": 51, "name": "name-0050"}) == []
    both = lh.plan_files(path, point={"id": 50, "name": "name-0050"})
    assert 1 <= len(both) <= 2
    got = lh.scan(spark, path, point={"id": 50, "name": "name-0050"}).collect()
    assert [(r["id"], r["name"]) for r in got] == [(50, "name-0050")]
    # ...and re-indexing one column preserves the other's entry
    lh.bloom_index(spark, path, "id", bits_per_row=16)
    blooms2 = lh.read_manifest(path)["bloom"]
    assert blooms2["name"] == blooms["name"]
    assert blooms2["id"] != blooms["id"]


# -------------------------------------------- sargable predicate compilation


def test_compile_prune_box_shapes(spark):
    c = lh.compile_prune_box
    assert c("id >= 5 AND id < 10") == {"id": (5, 10)}
    assert c("5 <= id AND 10 > id") == {"id": (5, 10)}  # flipped operands
    assert c("id = 7") == {"id": (7, 7)}
    assert c("id BETWEEN 3 AND 9 AND val <= 100") == {"id": (3, 9), "val": (None, 100)}
    assert c("id IN (4, 2, 8)") == {"id": (2, 8)}
    assert c("name = 'x''y'") == {"name": ("x'y", "x'y")}
    assert c("(id > 1 AND (id < 9 AND val = 0))") == {"id": (1, 9), "val": (0, 0)}
    # intersect: tightest bounds win
    assert c("id >= 2 AND id >= 5 AND id <= 9 AND id <= 7") == {"id": (5, 7)}
    # `_` is an identifier character: AND inside a column name is no keyword
    assert c("x_and >= 5") == {"x_and": (5, None)}
    assert c("k > 3 AND nd_and < 10") == {"k": (3, None), "nd_and": (None, 10)}
    # Spark's literal and identifier forms
    assert c("x > 1e3") == {"x": (1000.0, None)}
    assert c("`id` >= 5") == {"id": (5, None)}
    assert c("name = 'a\\'b'") == {"name": ("a'b", "a'b")}


def test_compile_prune_box_is_conservative(spark):
    c = lh.compile_prune_box
    # a top-level OR voids everything: a AND b OR c == (a AND b) OR c
    assert c("id > 5 AND val = 1 OR id < 2") == {}
    assert c("id > 5 OR id < 2") == {}
    assert c("(id > 5) OR (id < 2)") == {}
    # non-sargable conjuncts contribute nothing but don't poison others
    assert c("id % 3 = 0 AND val < 50") == {"val": (None, 50)}
    assert c("NOT id = 5 AND val >= 7") == {"val": (7, None)}
    assert c("upper(name) = 'X' AND id <= 4") == {"id": (None, 4)}
    # a parenthesized group containing OR is opaque
    assert c("(id = 1 OR id = 9) AND val > 0") == {"val": (0, None)}
    # BETWEEN inside an OR branch must not leak its bounds
    assert c("(id BETWEEN 1 AND 2) OR val = 3") == {}
    # typed literals wait for typed stats; qualified names are opaque
    assert c("ts >= TIMESTAMP '2024-01-01 00:00:00'") == {}
    assert c("t.id > 5") == {}
    # a column meeting string and numeric literals gets no bound
    assert c("x IN (1, 'a')") == {}
    assert c("id >= 5 AND id >= 'a' AND val < 3") == {"val": (None, 3)}
    assert c("id BETWEEN 1 AND 'z'") == {}
    # a bound that cannot be compared with a file's stats keeps the file
    m = {"key": "id", "files": [{"path": "f", "min_key": 0, "max_key": 9, "cols": {"val": (0, 90)}}]}
    assert len(lh._prune(m, predicates={"id": ("5", None)})) == 1
    assert len(lh._prune(m, predicates={"val": (None, "z")})) == 1


def test_scan_where_string_literal_on_int_column(spark, tmp_path):
    """Spark casts `id >= '5'` and runs it; the pruner must not raise."""
    path = str(tmp_path / "sws")
    lh.create(spark, path, spark.range(20).repartitionByRange(4, "id"), key="id")
    pred = "id >= '5'"
    got = sorted(r["id"] for r in lh.scan_where(spark, path, pred).collect())
    assert got == sorted(r["id"] for r in lh.read(spark, path).filter(pred).collect())
    assert got == list(range(5, 20))


def test_scan_where_prunes_files_and_matches_filter(spark, tmp_path):
    path = str(tmp_path / "sw")
    df = (
        spark.range(1000)
        .select("id", (F.col("id") * 10).alias("val"))
        .repartitionByRange(10, "id")
    )
    lh.create(spark, path, df, key="id")
    pred = "id BETWEEN 100 AND 199 AND val % 20 = 0"
    box = lh.compile_prune_box(pred)
    planned = len(lh.plan_files(path, predicates=box))
    assert planned < 10  # the box really pruned file planning
    got = sorted(r["id"] for r in lh.scan_where(spark, path, pred).collect())
    want = sorted(
        r["id"] for r in lh.read(spark, path).filter(pred).collect()
    )
    assert got == want and len(got) == 50


def test_delete_where_auto_prune(spark, tmp_path):
    path = str(tmp_path / "adel")
    df = (
        spark.range(1000)
        .select("id", (F.col("id") * 10).alias("val"))
        .repartitionByRange(10, "id")
    )
    lh.create(spark, path, df, key="id")
    before = {f["path"] for f in lh.read_manifest(path)["files"]}
    lh.delete_where(spark, path, "id BETWEEN 100 AND 199", prune="auto")
    after = lh.read_manifest(path)["files"]
    carried = sum(1 for f in after if f["path"] in before)
    assert carried >= len(before) - 2  # only intersecting files rewrote
    assert lh.read(spark, path).count() == 900
    assert lh.read(spark, path).filter("id BETWEEN 100 AND 199").count() == 0


# ---------------------------------------------------------- CHECK constraints


def test_constraints_refuse_bad_batches_whole(spark, tmp_path):
    path = str(tmp_path / "ctbl")
    df = spark.range(10).select("id", (F.col("id") * 10).alias("val"))
    lh.create(spark, path, df, key="id", constraints={"val_nonneg": "val >= 0"})
    bad = spark.createDataFrame([(100, 5), (101, -1), (102, -2)], "id long, val long")
    with pytest.raises(lh.ConstraintViolation) as ei:
        lh.append(spark, path, bad)
    assert ei.value.violations == {"val_nonneg": 2}
    # the refusal is atomic: nothing from the batch landed
    assert lh.read(spark, path).count() == 10
    # merge validates too
    with pytest.raises(lh.ConstraintViolation):
        lh.merge_upsert(spark, path, bad)
    # idempotent appends validate before touching the ledger
    with pytest.raises(lh.ConstraintViolation):
        lh.append_idempotent(spark, path, bad, writer_id="w", batch_id=1)
    ok = spark.createDataFrame([(100, 5)], "id long, val long")
    lh.append_idempotent(spark, path, ok, writer_id="w", batch_id=1)
    assert lh.read(spark, path).count() == 11


def test_constraint_nulls_pass_and_create_validates_seed(spark, tmp_path):
    path = str(tmp_path / "ntbl")
    df = spark.createDataFrame([(1, 10), (2, None)], "id long, val long")
    # NULL predicate passes (SQL CHECK semantics)
    lh.create(spark, path, df, key="id", constraints={"val_pos": "val > 0"})
    with pytest.raises(lh.ConstraintViolation):
        lh.create(
            spark,
            str(tmp_path / "ntbl2"),
            spark.createDataFrame([(1, -5)], "id long, val long"),
            key="id",
            constraints={"val_pos": "val > 0"},
        )


def test_add_drop_constraint_and_carry_through_commits(spark, tmp_path):
    path = str(tmp_path / "atbl")
    df = spark.range(10).select("id", (F.col("id") * 10).alias("val"))
    lh.create(spark, path, df, key="id")
    with pytest.raises(lh.ConstraintViolation):
        lh.add_constraint(spark, path, "val_small", "val < 50")  # data violates
    lh.add_constraint(spark, path, "val_nonneg", "val >= 0")
    with pytest.raises(ValueError):
        lh.add_constraint(spark, path, "val_nonneg", "val >= 0")  # duplicate
    # the constraint survives a compaction commit and still enforces
    lh.compact(spark, path, num_files=1)
    assert lh.read_manifest(path)["constraints"] == {"val_nonneg": "val >= 0"}
    with pytest.raises(lh.ConstraintViolation):
        lh.append(spark, path, spark.createDataFrame([(99, -1)], "id long, val long"))
    lh.drop_constraint(path, "val_nonneg")
    lh.append(spark, path, spark.createDataFrame([(99, -1)], "id long, val long"))
    assert lh.read(spark, path).count() == 11
    assert "constraints" not in lh.read_manifest(path)


def test_restore_validates_against_head_constraints(spark, tmp_path):
    path = str(tmp_path / "rtbl")
    v1_data = spark.createDataFrame([(1, -5), (2, 3)], "id long, val long")
    lh.create(spark, path, v1_data, key="id")
    lh.delete_where(spark, path, "val < 0")  # v2: only positive rows remain
    lh.add_constraint(spark, path, "val_nonneg", "val >= 0")  # v3
    with pytest.raises(lh.ConstraintViolation):
        lh.restore(spark, path, 1)  # would smuggle the -5 row back in
    lh.restore(spark, path, 2)  # the clean snapshot restores fine
    assert lh.read(spark, path).count() == 1


def test_history_metrics_track_commits_and_vacuum_horizon(spark, tmp_path):
    path = _mk(spark, tmp_path, n=100)  # v1: +100
    lh.append(spark, path, spark.range(100, 130).select("id", (F.col("id") * 10).alias("val")))
    lh.merge_upsert(  # 1 update + 1 insert: net +1
        spark, path, spark.createDataFrame([(5, -5), (500, 1)], "id long, val long")
    )
    lh.compact(spark, path, num_files=1)  # layout only: net 0
    hist = lh.history(path)
    assert [(h["version"], h["action"], h["metrics"]["net_rows"]) for h in hist] == [
        (1, "create", 100),
        (2, "append", 30),
        (3, "merge", 1),
        (4, "compact", 0),
    ]
    assert all(h["metrics"]["rows_added"] >= 0 for h in hist)
    lh.vacuum(path, keep_last=2)
    trimmed = lh.history(path)  # history reaches exactly the horizon
    assert [h["version"] for h in trimmed] == [3, 4]


def test_merge_refuses_silent_schema_drift_and_evolves_on_optin(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    widened = spark.createDataFrame([(3, -3, "x")], "id long, val long, tag string")
    with pytest.raises(lh.SchemaMismatch):
        lh.merge_upsert(spark, path, widened)
    assert lh.read(spark, path).columns == ["id", "val"]  # nothing leaked
    lh.merge_upsert(spark, path, widened, merge_schema=True)
    head = lh.read(spark, path)
    assert head.columns == ["id", "val", "tag"]
    got = {(r["id"], r["val"], r["tag"]) for r in head.collect()}
    assert (3, -3, "x") in got
    assert (5, 50, None) in got  # untouched rows null-fill the new column


def test_optimize_rewrites_only_small_files(spark, tmp_path):
    path = str(tmp_path / "opt")
    lh.create(
        spark,
        path,
        spark.range(1000).select("id", (F.col("id") * 10).alias("val")).repartition(1),
        key="id",
    )
    for i in range(4):  # streaming trickle: 4 tiny files
        lh.append(
            spark,
            path,
            spark.range(1000 + i * 10, 1000 + (i + 1) * 10).select(
                "id", (F.col("id") * 10).alias("val")
            ),
        )
    big_path = next(f["path"] for f in lh.read_manifest(path)["files"] if f["rows"] == 1000)
    v = lh.optimize_small_files(spark, path, target_rows=500)
    m = lh.read_manifest(path, v)
    assert m["action"] == "optimize"
    paths = {f["path"] for f in m["files"]}
    assert big_path in paths  # carried by reference
    assert len(m["files"]) == 2  # 1 big + 1 packed bin
    assert m["metrics"]["net_rows"] == 0
    assert lh.read(spark, path).count() == 1040
    # idempotent when nothing qualifies: no empty commit
    assert lh.optimize_small_files(spark, path, target_rows=5) == v
    assert lh.current_version(path) == v


def test_change_feed_refuses_restore_boundary(spark, tmp_path):
    path = _mk(spark, tmp_path, n=20)
    lh.append(spark, path, spark.createDataFrame([(50, 1)], "id long, val long"))
    v = lh.restore(spark, path, 1)
    with pytest.raises(ValueError):
        lh.read_changes(spark, path, v)


# ---------------------------------------------------------------- partitioning


def _mk_part(spark, tmp_path, n=100):
    """A partitioned lake table: bucket = id % 4, tenant cycles
    t0/t1/t2 with every 10th row NULL (the hive-default-partition
    round-trip case)."""
    path = str(tmp_path / "ptbl")
    df = spark.range(n).select(
        F.col("id").cast("long"),
        (F.col("id") % 4).alias("bucket"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 3).cast("string")))
        .alias("tenant"),
        (F.col("id") * 10).alias("val"),
    )
    assert lh.create(spark, path, df, key="id", partition_by=["bucket", "tenant"]) == 1
    return path, df


def test_partitioned_create_one_tuple_per_file_and_roundtrip(spark, tmp_path):
    path, df = _mk_part(spark, tmp_path)
    m = lh.read_manifest(path)
    assert m["partition_by"] == ["bucket", "tenant"]
    # every file carries exactly one typed partition tuple; the
    # clustering shuffle caps it at one file per live tuple
    tuples = [tuple(f["partition"][c] for c in ("bucket", "tenant")) for f in m["files"]]
    assert len(tuples) == len(set(tuples))
    assert all(isinstance(t[0], int) for t in tuples)  # typed, not '2'
    assert any(t[1] is None for t in tuples)  # NULL partition round-trips
    # full read-back: partition columns come from the DATA, not paths
    got = sorted(r["id"] for r in lh.read(spark, path).collect())
    assert got == list(range(100))
    rows = {r["id"]: (r["bucket"], r["tenant"]) for r in lh.read(spark, path).collect()}
    assert rows[20] == (0, None) and rows[7] == (3, "t1")


def test_partition_pruning_exact_and_null_semantics(spark, tmp_path):
    path, _ = _mk_part(spark, tmp_path)
    m = lh.read_manifest(path)
    planned = lh.plan_files(path, point={"bucket": 2})
    assert planned and all(f["partition"]["bucket"] == 2 for f in planned)
    assert len(planned) < len(m["files"])
    # a bound on a partition column excludes NULL-valued partitions
    # (SQL comparison semantics: NULL matches no range)
    planned = lh.plan_files(path, predicates={"tenant": ("t0", "t2")})
    assert planned and all(f["partition"]["tenant"] is not None for f in planned)
    # values survive the pruning: scan == full-read filter
    got = sorted(r["id"] for r in lh.scan(spark, path, point={"bucket": 2}).collect())
    want = sorted(
        r["id"] for r in lh.read(spark, path).filter("bucket = 2").collect()
    )
    assert got == want and got


def test_partitions_listing_matches_data(spark, tmp_path):
    path, df = _mk_part(spark, tmp_path)
    parts = lh.partitions(path)
    assert sum(p["rows"] for p in parts) == 100
    want = {
        (r["bucket"], r["tenant"]): r["n"]
        for r in df.groupBy("bucket", "tenant").agg(F.count("*").alias("n")).collect()
    }
    got = {(p["bucket"], p["tenant"]): p["rows"] for p in parts}
    assert got == want
    flat = str(tmp_path / "flat")
    lh.create(spark, flat, df.select("id", "val"), key="id")
    with pytest.raises(ValueError):
        lh.partitions(flat)  # unpartitioned table has no listing


def test_replace_where_swaps_partitions_atomically(spark, tmp_path):
    path, df = _mk_part(spark, tmp_path)
    new = df.filter("bucket = 1").withColumn("val", F.col("val") * -1)
    v = lh.replace_where(spark, path, "bucket = 1", new, track_changes=True)
    r = lh.read(spark, path)
    assert r.count() == 100
    assert r.filter("bucket = 1 AND val >= 0").count() == 0
    assert r.filter("bucket != 1 AND val < 0").count() == 0
    # time travel: the pre-replace snapshot is intact
    assert lh.read(spark, path, version=1).filter("val < 0").count() == 0
    # change feed carries the swap as delete pre-images + inserts
    ch = lh.read_changes(spark, path, v)
    by_type = {r["_change_type"]: r["n"] for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert by_type == {"delete": 25, "insert": 25}
    # untracked replace refuses the feed
    v2 = lh.replace_where(spark, path, "bucket = 1", new)
    with pytest.raises(ValueError):
        lh.read_changes(spark, path, v2)


def test_replace_where_refusals(spark, tmp_path):
    path, df = _mk_part(spark, tmp_path)
    # rows outside the replaced region
    with pytest.raises(ValueError, match="do not satisfy"):
        lh.replace_where(spark, path, "bucket = 1", df)
    # predicate over a data (non-partition) column
    with pytest.raises(ValueError, match="partition columns"):
        lh.replace_where(spark, path, "val > 0", df)
    # unpartitioned table
    flat = str(tmp_path / "flat")
    lh.create(spark, flat, spark.range(5).select("id", (F.col("id") * 2).alias("v")), key="id")
    with pytest.raises(ValueError, match="partitioned"):
        lh.replace_where(spark, flat, "id = 1", spark.range(1).select("id", (F.col("id") * 2).alias("v")))


def test_replace_where_conflicts_with_racing_append_into_region(spark, tmp_path):
    # A racing append INTO the replaced partition must not survive the
    # overwrite: simulate the race by appending between replace_where's
    # snapshot read and its commit via a monkeypatched _commit wrapper.
    path, df = _mk_part(spark, tmp_path)
    real_commit = lh._commit
    raced = {"done": False}
    extra_in_region = spark.createDataFrame(
        [(500, 1, "t9", 5000)], "id long, bucket long, tenant string, val long"
    )
    # deterministic interleave: append in-region after snapshot, before commit
    import unittest.mock as mock

    def racing(p, build):
        if not raced["done"]:
            raced["done"] = True
            lh.append(spark, p, extra_in_region)
        return real_commit(p, build)

    new = df.filter("bucket = 1").withColumn("val", F.col("val") * -1)
    with mock.patch.object(lh, "_commit", side_effect=racing):
        lh.replace_where(spark, path, "bucket = 1", new)
    r = lh.read(spark, path)
    # the raced-in row was inside the replaced region: the overwrite
    # recomputed and it is GONE (replace_where wins, atomically)
    assert r.filter("id = 500").count() == 0
    assert r.count() == 100
    assert r.filter("bucket = 1 AND val >= 0").count() == 0


def test_repartition_table_evolves_spec_and_time_travels(spark, tmp_path):
    path, _ = _mk_part(spark, tmp_path)
    v = lh.repartition_table(spark, path, ["tenant"])
    m = lh.read_manifest(path, v)
    assert m["action"] == "repartition" and m["partition_by"] == ["tenant"]
    assert all(list(f["partition"]) == ["tenant"] for f in m["files"])
    assert lh.read(spark, path).count() == 100
    # old spec still resolves via time travel
    assert lh.read_manifest(path, 1)["partition_by"] == ["bucket", "tenant"]
    # un-partition drops the spec entirely
    v2 = lh.repartition_table(spark, path, None)
    assert "partition_by" not in lh.read_manifest(path, v2)
    with pytest.raises(ValueError):
        lh.partitions(path)


def test_partitioned_merge_delete_compact_preserve_layout(spark, tmp_path):
    path, _ = _mk_part(spark, tmp_path)
    ups = spark.createDataFrame(
        [(5, 1, "t2", -99), (500, 0, "t0", 1)], "id long, bucket long, tenant string, val long"
    )
    lh.merge_upsert(spark, path, ups)
    lh.delete_where(spark, path, "id >= 90 AND id < 100", prune="auto")
    lh.compact(spark, path, num_files=2)
    m = lh.read_manifest(path)
    assert all("partition" in f for f in m["files"])  # layout survives rewrites
    r = lh.read(spark, path)
    assert r.count() == 91  # 100 + 1 insert - 10 deleted (update is net zero)
    assert r.filter("id = 5").collect()[0]["val"] == -99
    # pruning still exact after the rewrite chain
    planned = lh.plan_files(path, point={"bucket": 2})
    assert planned and all(f["partition"]["bucket"] == 2 for f in planned)


def test_partitioned_compact_skips_the_round_robin_shuffle(spark, tmp_path, monkeypatch):
    """On a partitioned table the clustering write's own shuffle sets
    the layout, so compact hands it the snapshot read with no
    repartition in front; an unpartitioned compact hash-partitions on
    the key into num_files (no round-robin, whose shuffle sorts every
    row first)."""
    ppath, _ = _mk_part(spark, tmp_path)
    upath = _mk(spark, tmp_path)
    real = lh._write_data_files
    plans = []

    def spy(df, *a, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(df, *a, **kw)

    monkeypatch.setattr(lh, "_write_data_files", spy)
    lh.compact(spark, ppath, num_files=2)
    lh.compact(spark, upath, num_files=2)
    partitioned, plain = plans
    assert "Repartition" not in partitioned
    assert "RepartitionByExpression [id#" in plain and "], 2" in plain
    assert "Repartition 2" not in plain
    assert len(lh.read_manifest(upath)["files"]) == 2
    assert _rows(lh.read(spark, upath)) == [(i, i * 10) for i in range(100)]
    assert lh.read(spark, ppath).count() == 100
    assert all("partition" in f for f in lh.read_manifest(ppath)["files"])


def test_partitioned_vacuum_reclaims_nested_dirs(spark, tmp_path):
    path, df = _mk_part(spark, tmp_path, n=40)
    new = df.filter("bucket = 0").withColumn("val", F.col("val") + 1)
    lh.replace_where(spark, path, "bucket = 0", new)
    deleted = lh.vacuum(path, keep_last=1)
    assert deleted  # v1's bucket-0 files physically reclaimed
    assert lh.read(spark, path).count() == 40
    # no orphaned uuid dirs without parquet anywhere beneath
    data_root = os.path.join(path, "data")
    for d in os.listdir(data_root):
        full = os.path.join(data_root, d)
        assert any(
            n.endswith(".parquet") for _, _, names in os.walk(full) for n in names
        ), f"empty dir survived vacuum: {full}"


def test_partitioned_idempotent_append_preserves_layout(spark, tmp_path):
    # The streaming-sink path (foreachBatch → append_idempotent) on a
    # PARTITIONED table: batches land partition-routed, replays no-op,
    # and the listing stays consistent — the combination a partitioned
    # streaming ingest table exercises every micro-batch.
    path = str(tmp_path / "psink")
    seed = spark.createDataFrame([], "id long, bucket long, val long")
    lh.create(spark, path, seed, key="id", partition_by=["bucket"])
    batch = spark.range(30).select(
        "id", (F.col("id") % 3).alias("bucket"), (F.col("id") * 2).alias("val")
    )
    v = lh.append_idempotent(spark, path, batch, writer_id="w", batch_id=0)
    # replay with the same (writer, batch) — total-checkpoint-loss case
    assert lh.append_idempotent(spark, path, batch, writer_id="w", batch_id=0) == v
    assert lh.current_version(path) == v
    m = lh.read_manifest(path)
    assert all("partition" in f for f in m["files"])
    assert {p["bucket"]: p["rows"] for p in lh.partitions(path)} == {0: 10, 1: 10, 2: 10}
    # next batch advances the ledger and stays partition-routed
    b2 = spark.range(30, 40).select(
        "id", (F.col("id") % 3).alias("bucket"), (F.col("id") * 2).alias("val")
    )
    lh.append_idempotent(spark, path, b2, writer_id="w", batch_id=1)
    assert lh.read(spark, path).count() == 40
    planned = lh.plan_files(path, point={"bucket": 1})
    assert planned and all(f["partition"]["bucket"] == 1 for f in planned)


# ------------------------------------------------- generated columns & clone


def test_generated_partition_column_computed_and_validated(spark, tmp_path):
    # The events-by-day ingest pattern: partition on a GENERATED day
    # column callers never hand-maintain.
    path = str(tmp_path / "gen")
    base = spark.range(40).select(
        "id",
        F.expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0)").alias("ts"),
        (F.col("id") * 2).alias("val"),
    )
    lh.create(
        spark, path, base, key="id",
        partition_by=["day"], generated={"day": "to_date(ts)"},
    )
    m = lh.read_manifest(path)
    assert m["generated"] == {"day": "to_date(ts)"}
    # the computed column landed, typed, one tuple per file
    assert {p["day"] for p in lh.partitions(path)} == {"2024-03-01", "2024-03-02"}
    # a batch WITHOUT the column gets it computed on append
    b2 = spark.range(100, 110).select(
        "id", F.expr("timestamp'2024-03-03 05:00:00'").alias("ts"), F.lit(0).alias("val")
    )
    lh.append(spark, path, b2)
    assert lh.read(spark, path).filter("day = DATE'2024-03-03'").count() == 10
    # a batch PROVIDING a disagreeing value is refused whole
    bad = b2.select("id", "ts", "val").withColumn("day", F.expr("DATE'1999-01-01'"))
    with pytest.raises(ValueError, match="disagree"):
        lh.append(spark, path, bad)
    # pruning on the generated partition column is exact
    planned = lh.plan_files(path, point={"day": "2024-03-02"})
    assert planned and all(f["partition"]["day"] == "2024-03-02" for f in planned)
    # merge computes it too (update one row, no day supplied)
    up = spark.createDataFrame(
        [(5, "2024-03-01 05:00:00", -1)], "id long, ts string, val long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    lh.merge_upsert(spark, path, up)
    row = lh.read(spark, path).filter("id = 5").collect()[0]
    assert row["val"] == -1 and str(row["day"]) == "2024-03-01"


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    src = _mk(spark, tmp_path, n=50, files=3)
    tgt = str(tmp_path / "clone")
    assert lh.clone(spark, src, tgt) == 1
    m = lh.read_manifest(tgt)
    assert m["action"] == "clone" and m["clone_source_version"] == 1
    # zero-copy: the clone's v1 references the SOURCE's files verbatim
    assert {f["path"] for f in m["files"]} == {
        f["path"] for f in lh.read_manifest(src)["files"]
    }
    assert _rows(lh.read(spark, tgt)) == _rows(lh.read(spark, src))
    # divergence: writes to the clone never touch the source
    lh.merge_upsert(spark, tgt, spark.createDataFrame([(0, -1)], "id long, val long"))
    lh.delete_where(spark, tgt, "id >= 40", prune="auto")
    assert dict(_rows(lh.read(spark, tgt)))[0] == -1
    assert lh.read(spark, tgt).count() == 40
    assert dict(_rows(lh.read(spark, src)))[0] == 0  # source intact
    assert lh.read(spark, src).count() == 50
    # fresh txn ledger: the clone is a new sink identity
    assert lh.read_manifest(tgt)["txns"] == {}
    # clone refuses to overwrite an existing table
    with pytest.raises(FileExistsError):
        lh.clone(spark, src, tgt)


def test_clone_vacuum_ownership_guard(spark, tmp_path):
    # The clone rewrote source-referenced files out of its head; its
    # vacuum must reap ONLY its own rewrites, never the source's data.
    src = _mk(spark, tmp_path, n=30, files=2)
    tgt = str(tmp_path / "clone2")
    lh.clone(spark, src, tgt)
    lh.compact(spark, tgt, num_files=1)  # clone's own copy; source files now historical
    deleted = lh.vacuum(tgt, keep_last=1)
    # nothing under the SOURCE's data dir was deleted
    assert all(not p.startswith(src) for p in deleted)
    assert lh.read(spark, src).count() == 30  # source fully readable
    assert lh.read(spark, tgt).count() == 30
    # clone carries constraints/partition spec of a partitioned source
    psrc, _ = _mk_part(spark, tmp_path)
    ptgt = str(tmp_path / "pclone")
    lh.clone(spark, psrc, ptgt)
    assert lh.read_manifest(ptgt)["partition_by"] == ["bucket", "tenant"]
    assert {p["bucket"] for p in lh.partitions(ptgt)} == {0, 1, 2, 3}


# -------------------------------------------- partitioning edge-case fixes


def test_empty_string_partition_distinct_from_null(spark, tmp_path):
    # Hive's dir encoding maps BOTH '' and NULL to the same marker;
    # footer stats must disambiguate so point scans on '' find their
    # rows and NULL partitions stay NULL.
    path = str(tmp_path / "empties")
    df = spark.createDataFrame(
        [(1, "", 10), (2, "", 20), (3, None, 30), (4, "x", 40)],
        "id long, tenant string, val long",
    )
    lh.create(spark, path, df, key="id", partition_by=["tenant"])
    m = lh.read_manifest(path)
    vals = sorted(
        (f["partition"]["tenant"] is None, f["partition"]["tenant"] or "∅")
        for f in m["files"]
    )
    tenants = [f["partition"]["tenant"] for f in m["files"]]
    assert "" in tenants and None in tenants and "x" in tenants
    got = sorted(r["id"] for r in lh.scan(spark, path, point={"tenant": ""}).collect())
    assert got == [1, 2]
    planned = lh.plan_files(path, point={"tenant": ""})
    assert all(f["partition"]["tenant"] == "" for f in planned)
    # bounds exclude the NULL partition but admit ''
    planned = lh.plan_files(path, predicates={"tenant": ("", "x")})
    assert all(f["partition"]["tenant"] is not None for f in planned)


def test_restore_restores_partition_spec(spark, tmp_path):
    # The spec is file-layout identity: restoring v1's files must
    # restore v1's spec, or replace_where would reason over tuples the
    # files were never written under.
    path, df = _mk_part(spark, tmp_path)
    lh.repartition_table(spark, path, ["tenant"])
    v = lh.restore(spark, path, 1)
    m = lh.read_manifest(path, v)
    assert m["partition_by"] == ["bucket", "tenant"]
    assert all(
        set(f["partition"]) == {"bucket", "tenant"} for f in m["files"]
    )
    # replace_where works against the restored spec
    new = df.filter("bucket = 3").withColumn("val", F.col("val") * -1)
    lh.replace_where(spark, path, "bucket = 3", new)
    r = lh.read(spark, path)
    assert r.count() == 100 and r.filter("bucket = 3 AND val >= 0").count() == 0


def test_unpartitionable_column_types_refused(spark, tmp_path):
    path = str(tmp_path / "badtype")
    df = spark.createDataFrame(
        [(1, 1.5), (2, 2.5)], "id long, ratio double"
    ).withColumn("ts", F.expr("timestamp'2024-01-01 00:00:00.123'"))
    for col in ("ratio", "ts"):
        with pytest.raises(ValueError, match="unsupported partition column type"):
            lh.create(spark, str(tmp_path / f"t_{col}"), df, key="id", partition_by=[col])
    # date IS partitionable (the blessed derivative)
    ok = df.withColumn("day", F.expr("to_date(ts)"))
    lh.create(spark, path, ok, key="id", partition_by=["day"])
    assert lh.partitions(path)[0]["day"] == "2024-01-01"


def test_generated_column_midschema_append_accepted(spark, tmp_path):
    # The generated column sits in the MIDDLE of the schema; a batch
    # omitting it must still append (the computed column is re-ordered
    # into its schema position, not tacked onto the end).
    path = str(tmp_path / "genmid")
    base = spark.createDataFrame(
        [(1, "2024-03-01 01:00:00", 10)], "id long, ts string, val long"
    ).withColumn("ts", F.col("ts").cast("timestamp")).select(
        "id", F.expr("to_date(ts)").alias("day"), "ts", "val"
    )
    lh.create(
        spark, path, base, key="id",
        partition_by=["day"], generated={"day": "to_date(ts)"},
    )
    batch = spark.createDataFrame(
        [(2, "2024-03-02 01:00:00", 20)], "id long, ts string, val long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    lh.append(spark, path, batch)  # no day column: computed mid-schema
    assert lh.read(spark, path).count() == 2
    assert [f.name for f in lh.read(spark, path).schema.fields] == ["id", "day", "ts", "val"]


def test_partitioned_optimize_converges(spark, tmp_path):
    # One small file per tuple is already the densest layout: optimize
    # must NO-OP (not rewrite the same bytes forever); tuples with ≥2
    # small files merge to one.
    path = str(tmp_path / "poptim")
    df = spark.range(20).select(
        "id", (F.col("id") % 2).alias("bucket"), (F.col("id") * 2).alias("val")
    )
    lh.create(spark, path, df, key="id", partition_by=["bucket"])
    v = lh.current_version(path)
    assert lh.optimize_small_files(spark, path, target_rows=1000) == v  # no-op
    assert lh.current_version(path) == v
    # trickle two more small files into bucket 0 → that tuple merges
    for i in (100, 200):
        lh.append(spark, path, spark.createDataFrame(
            [(i, 0, i)], "id long, bucket long, val long"
        ))
    v2 = lh.optimize_small_files(spark, path, target_rows=1000)
    assert v2 > v
    m = lh.read_manifest(path, v2)
    per_tuple = {}
    for f in m["files"]:
        per_tuple.setdefault(f["partition"]["bucket"], []).append(f)
    assert len(per_tuple[0]) == 1 and len(per_tuple[1]) == 1
    # and a second optimize is a no-op again
    assert lh.optimize_small_files(spark, path, target_rows=1000) == v2
    assert lh.read(spark, path).count() == 22


def test_partitioned_zorder_preserves_rows_and_layout(spark, tmp_path):
    path = str(tmp_path / "pz")
    df = spark.range(200).select(
        "id", (F.col("id") % 2).alias("bucket"),
        (F.col("id") * 7 % 50).alias("x"), (F.col("id") * 13 % 50).alias("y"),
    )
    lh.create(spark, path, df, key="id", partition_by=["bucket"])
    v = lh.zorder_cluster(spark, path, ["x", "y"], num_files=4)
    m = lh.read_manifest(path, v)
    assert m["zorder_by"] == ["x", "y"]
    assert all("partition" in f for f in m["files"])
    # z-placement survives: >1 file per tuple (range buckets × tuples),
    # i.e. the clustering shuffle did NOT flatten it to 1/tuple
    per_tuple = {}
    for f in m["files"]:
        per_tuple.setdefault(f["partition"]["bucket"], 0)
        per_tuple[f["partition"]["bucket"]] += 1
    assert max(per_tuple.values()) > 1
    assert lh.read(spark, path).count() == 200
    # partition pruning still exact after the zorder rewrite
    planned = lh.plan_files(path, point={"bucket": 1})
    assert planned and all(f["partition"]["bucket"] == 1 for f in planned)


def test_files_per_partition_salting_spreads_hot_partitions(spark, tmp_path):
    # A skewed ingest (one dominant tenant) must not bottleneck one
    # writer task per partition: write_tuning.files_per_partition salts
    # the clustering shuffle so the hot tuple spreads across N files,
    # while pruning and row-exactness are untouched.
    path = str(tmp_path / "salted")
    df = spark.range(3000).select(
        "id",
        F.when(F.col("id") % 10 == 0, F.lit("cold")).otherwise(F.lit("hot")).alias("tenant"),
        (F.col("id") * 2).alias("val"),
    )
    lh.create(
        spark, path, df, key="id",
        partition_by=["tenant"], write_tuning={"files_per_partition": 4},
    )
    per_tuple = {}
    for f in lh.read_manifest(path)["files"]:
        per_tuple.setdefault(f["partition"]["tenant"], 0)
        per_tuple[f["partition"]["tenant"]] += 1
    assert per_tuple["hot"] > 1  # spread
    assert per_tuple["hot"] <= 4  # bounded by the knob
    # appends inherit the tuning from the manifest
    lh.append(spark, path, df.withColumn("id", F.col("id") + 10000))
    planned = lh.plan_files(path, point={"tenant": "cold"})
    assert planned and all(f["partition"]["tenant"] == "cold" for f in planned)
    assert lh.read(spark, path).count() == 6000
    got = lh.scan(spark, path, point={"tenant": "hot"}).count()
    assert got == df.filter("tenant = 'hot'").count() * 2


def test_racing_replace_where_disjoint_partitions_both_land(spark, tmp_path):
    # Two replace_where commits on DIFFERENT partitions race: neither
    # dooms the other's files, both must land serially, each region
    # reflects exactly its writer.
    path, df = _mk_part(spark, tmp_path)
    errs = []

    def run(bucket):
        try:
            new = df.filter(f"bucket = {bucket}").withColumn(
                "val", F.col("val") * -1 - bucket - 1
            )
            lh.replace_where(spark, path, f"bucket = {bucket}", new)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=run, args=(0,))
    t2 = threading.Thread(target=run, args=(1,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    r = lh.read(spark, path)
    assert r.count() == 100
    assert r.filter("bucket = 0 AND val >= 0").count() == 0
    assert r.filter("bucket = 1 AND val >= 0").count() == 0
    assert r.filter("bucket >= 2 AND val < 0").count() == 0  # untouched


def test_racing_replace_where_same_partition_serializes(spark, tmp_path):
    # Two replace_where commits on the SAME partition: the loser's
    # doomed set is stale, it must conflict, recompute against the
    # winner's head, and REPLACE the winner's output — last writer
    # wins, atomically, with no row mixing from the two batches.
    path, df = _mk_part(spark, tmp_path)
    errs = []

    def run(tag):
        try:
            new = df.filter("bucket = 2").withColumn("val", F.lit(tag))
            lh.replace_where(spark, path, "bucket = 2", new)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=run, args=(-111,))
    t2 = threading.Thread(target=run, args=(-222,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    r = lh.read(spark, path)
    assert r.count() == 100
    vals = {row["val"] for row in r.filter("bucket = 2").collect()}
    assert vals in ({-111}, {-222}), f"mixed outputs: {vals}"
    # and history shows both commits (serialized, not lost)
    actions = [h["action"] for h in lh.history(path)]
    assert actions.count("replace_where") == 2


def test_ann_index_incremental_maintenance_is_o_delta(spark, tmp_path):
    """Persisted-ANN protocol (VERDICT r6 item 2): the inverted-list
    lake table is maintained from the manifest diff across MULTIPLE
    append cycles — each cycle touches only the appended rows, every
    cell probe plans a strict file subset, and after every cycle the
    persisted lists equal a from-scratch reassignment of the head
    corpus against the (fixed) centroids."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lambda_hive_spark import lakehouse as lh
    from lambda_hive_spark.helpers import dot

    base = str(tmp_path / "corpus")
    lists = str(tmp_path / "lists")

    # toy corpus: 2-dim vectors in two obvious cells
    rows = [(i, [float(i % 7 + 1), 0.0] if i % 2 == 0 else [0.0, float(i % 5 + 1)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, centroid array<double>"
    )

    def assign(vectors):
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cdot").desc(), F.col("cell").asc()
        )
        return (
            vectors.crossJoin(F.broadcast(cent))
            .select(
                "vec_id", "embedding", "cell",
                dot(F.col("embedding").cast("array<double>"), F.col("centroid")).alias("cdot"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding", "cell")
        )

    lh.create(spark, base, df, key="vec_id")
    lh.create(spark, lists, assign(df), key="vec_id", partition_by=["cell"])

    next_id = 40
    for cycle in range(2):
        batch = spark.createDataFrame(
            [(next_id + j, [3.0, float(cycle)]) for j in range(5)],
            "vec_id long, embedding array<float>",
        )
        next_id += 5
        v0 = lh.current_version(base)
        v1 = lh.append(spark, base, batch)
        inc = lh.read_incremental(spark, base, v0, v1)
        assert inc.count() == 5  # O(delta): only the batch re-delivers
        lh.append(spark, lists, assign(inc))

        # probe plans prune: each cell's point plan is a strict subset
        total = len(lh.plan_files(lists))
        for c in (0, 1):
            plan = lh.plan_files(lists, point={"cell": c})
            assert 0 < len(plan) < total

        persisted = lh.read(spark, lists).select("vec_id", "cell")
        rebuilt = assign(lh.read(spark, base)).select("vec_id", "cell")
        drift = persisted.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(persisted))
        assert drift.count() == 0


def test_ivf_probe_helper_full_probe_equals_brute_force(spark, tmp_path):
    """The persisted-index probe kernel (_ivf_probe_lists) with every
    cell probed must reproduce exact brute-force top-k — the classic
    IVF invariant, here asserted against the LAKE-backed path the
    serving ops share (extras tests cover the per-query-rebuild twin)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lambda_hive_spark import lakehouse as lh
    from lambda_hive_spark.helpers import dot
    from lambda_hive_spark.operators.extras import K_NN, assign_cells
    from lambda_hive_spark.operators.lake import _ivf_probe_lists

    # toy corpus: 30 vectors in 3 well-separated 3-dim cells
    rows = []
    for i in range(30):
        base = [0.0, 0.0, 0.0]
        base[i % 3] = 1.0
        base[(i + 1) % 3] = round(0.1 + (i % 7) * 0.05, 2)
        rows.append((i, [float(x) for x in base]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "cell int, centroid array<double>",
    )
    lists_path = str(tmp_path / "lists")
    lh.create(
        spark,
        lists_path,
        assign_cells(e, cent),
        key="vec_id",
        partition_by=["cell"],
    )

    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # probe EVERY cell: monkeypatch-free — nprobe in the kernel is the
    # module constant (3), and the toy corpus has exactly 3 cells, so
    # the full probe IS the default probe here
    got = _ivf_probe_lists(spark, q, cent, lists_path)

    brute = (
        e.crossJoin(q.withColumnsRenamed({"qe": "qe2"}))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(
                F.col("qe2").cast("array<double>"),
                F.col("embedding").cast("array<double>"),
            ).alias("cosine"),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cosine").desc(), F.col("neighbor_id").asc()
                )
            )
            .cast("long"),
        )
        .filter(F.col("rank") <= K_NN)
    )
    drift = got.exceptAll(brute).unionAll(brute.exceptAll(got))
    assert drift.count() == 0, "full-probe lake path diverged from brute force"


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read DELETE — round 8)
# ---------------------------------------------------------------------------


def test_dv_delete_equals_cow_delete(spark, tmp_path):
    """DV delete is logically identical to the COW delete — same
    surviving rows — while moving ZERO data files (same physical file
    set before and after; only dv fields change)."""
    p_cow = str(tmp_path / "cow")
    p_dv = str(tmp_path / "dv")
    df = spark.range(200).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    ).repartition(4)
    lh.create(spark, p_cow, df, key="id")
    lh.create(spark, p_dv, df, key="id")
    lh.delete_where(spark, p_cow, "val % 30 = 0")
    before = sorted(f["path"] for f in lh.read_manifest(p_dv)["files"])
    lh.delete_where(spark, p_dv, "val % 30 = 0", deletion_vectors=True)
    m = lh.read_manifest(p_dv)
    assert sorted(f["path"] for f in m["files"]) == before, "DV delete moved data files"
    assert any(f.get("dv") for f in m["files"]), "no dv recorded"
    assert _rows(lh.read(spark, p_dv)) == _rows(lh.read(spark, p_cow))
    # logical delta matches the COW twin's
    assert m["metrics"]["net_rows"] == lh.read_manifest(p_cow)["metrics"]["net_rows"]
    assert m["metrics"]["rows_removed"] == 0  # nothing physical moved


def test_dv_repeat_delete_merges_positions(spark, tmp_path):
    """A second DV delete folds the first's positions into ONE sidecar
    per entry (readers consult one dv per file) and deletes compose."""
    path = _mk(spark, tmp_path, n=100, files=2)
    lh.delete_where(spark, path, "id < 10", deletion_vectors=True)
    lh.delete_where(spark, path, "id >= 90", deletion_vectors=True)
    m = lh.read_manifest(path)
    got = _rows(lh.read(spark, path))
    assert got == [(i, i * 10) for i in range(10, 90)]
    # every dv'd entry points at exactly one sidecar; deleted counts sum
    assert sum((f.get("dv") or {}).get("deleted", 0) for f in m["files"]) == 20
    # time travel: both prior versions intact
    assert len(_rows(lh.read(spark, path, version=1))) == 100
    assert len(_rows(lh.read(spark, path, version=2))) == 90


def test_dv_full_file_deletion_drops_entry(spark, tmp_path):
    """When a DV covers every row of a file the entry leaves the
    manifest outright (no degenerate all-deleted scans)."""
    path = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").cast("long"), (F.col("id") % 2).alias("val")
    )
    # two files split by parity of id ranges: repartitionByRange on id
    lh.create(spark, path, df.repartitionByRange(2, "id"), key="id")
    m1 = lh.read_manifest(path)
    n_before = len(m1["files"])
    assert n_before >= 2
    # delete everything the first file holds (its full key range)
    f0 = min(m1["files"], key=lambda f: f["min_key"])
    lh.delete_where(
        spark, path, f"id BETWEEN {f0['min_key']} AND {f0['max_key']}",
        deletion_vectors=True,
    )
    m2 = lh.read_manifest(path)
    assert f0["path"] not in {f["path"] for f in m2["files"]}
    assert len(_rows(lh.read(spark, path))) == 100 - f0["rows"]


def test_dv_rewrite_verbs_materialize(spark, tmp_path):
    """compact() reads THROUGH deletion vectors, so its output holds
    only live rows and the new entries carry no dv — the deletes are
    materialized as a side effect; net_rows reads 0 for the layout-only
    commit (physical -k cancels dv -k)."""
    path = _mk(spark, tmp_path, n=100, files=4)
    lh.delete_where(spark, path, "id % 10 = 0", deletion_vectors=True)
    live_before = _rows(lh.read(spark, path))
    lh.compact(spark, path, num_files=1)
    m = lh.read_manifest(path)
    assert not any(f.get("dv") for f in m["files"]), "compact left a dv behind"
    assert sum(f["rows"] for f in m["files"]) == 90, "compact wrote deleted rows"
    assert _rows(lh.read(spark, path)) == live_before
    assert m["metrics"]["net_rows"] == 0, "layout-only commit must read net 0"


def test_dv_track_changes_serves_new_preimages_only(spark, tmp_path):
    """The change feed of a DV delete carries exactly the NEWLY deleted
    pre-images (a repeat delete must not re-emit prior retractions)."""
    path = _mk(spark, tmp_path, n=50, files=2)
    lh.delete_where(spark, path, "id < 5", deletion_vectors=True, track_changes=True)
    v = lh.delete_where(
        spark, path, "id < 8", deletion_vectors=True, track_changes=True
    )
    feed = lh.read_changes(spark, path, v)
    assert sorted(r["id"] for r in feed.collect()) == [5, 6, 7]
    assert set(r["_change_type"] for r in feed.collect()) == {"delete"}
    # untracked DV delete refuses the feed, like merge/COW delete
    v2 = lh.delete_where(spark, path, "id = 20", deletion_vectors=True)
    with pytest.raises(ValueError, match="track_changes"):
        lh.read_changes(spark, path, v2)


def test_dv_vacuum_reaps_orphans_keeps_referenced(spark, tmp_path):
    """Vacuum deletes dv sidecars only when no surviving manifest
    references them: alive while the head (or horizon) needs them,
    gone after a compaction supersedes them and the horizon passes."""
    path = _mk(spark, tmp_path, n=100, files=2)
    lh.delete_where(spark, path, "id < 10", deletion_vectors=True)
    m = lh.read_manifest(path)
    sidecars = {f["dv"]["sidecar"] for f in m["files"] if f.get("dv")}
    assert sidecars
    lh.vacuum(path, keep_last=1)  # head still references the dv
    assert all(os.path.isdir(s) for s in sidecars), "vacuum reaped a live dv"
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(10, 100)]
    lh.compact(spark, path, num_files=1)  # supersedes the dv
    lh.vacuum(path, keep_last=1)
    assert not any(os.path.isdir(s) for s in sidecars), "orphan dv survived vacuum"
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(10, 100)]


def test_dv_restore_refuses_past_reaped_sidecar(spark, tmp_path):
    """A restore target whose dv sidecar is gone refuses loudly —
    serving the snapshot without its dv would resurrect deleted rows.
    (Vacuum itself can never orphan a kept manifest's sidecar — the
    refcount walks keep_versions — so this guards OUT-OF-BAND loss.)"""
    import shutil

    path = _mk(spark, tmp_path, n=60, files=2)
    v_dv = lh.delete_where(spark, path, "id < 30", deletion_vectors=True)
    lh.compact(spark, path, num_files=1)
    sidecar = next(
        f["dv"]["sidecar"]
        for f in lh.read_manifest(path, v_dv)["files"]
        if f.get("dv")
    )
    shutil.rmtree(sidecar)  # simulate out-of-band loss
    with pytest.raises(FileNotFoundError, match="vacuum horizon"):
        lh.restore(spark, path, v_dv)


def test_dv_merge_reads_through(spark, tmp_path):
    """A COW merge over a DV'd table reads through the dv: files it
    rewrites exclude deleted rows (materialized), so a dv-deleted row
    can never be resurrected by a later rewrite verb. (Untouched
    entries carry their dv forward structurally — the builder copies
    entries wholesale; the vacuum test pins that lifecycle.)"""
    path = _mk(spark, tmp_path, n=100, files=2)
    lh.delete_where(spark, path, "id = 7", deletion_vectors=True)
    batch = spark.range(5).select(
        F.col("id").cast("long"), F.lit(-1).cast("long").alias("val")
    )
    lh.merge_upsert(spark, path, batch)
    got = dict(_rows(lh.read(spark, path)))
    assert all(got[i] == -1 for i in range(5))
    assert 7 not in got, "merge resurrected a dv-deleted row"
    assert len(got) == 99


def test_dv_partitioned_table_delete_and_prune(spark, tmp_path):
    """DV delete on a hive-partitioned table: positions resolve under
    the __p_* directory layout, partition-pruned scans subtract the dv
    (the choke point serves scan() too), and a fully deleted partition's
    file leaves the manifest so its pruning tuple disappears."""
    path = str(tmp_path / "tbl")
    df = spark.range(90).select(
        F.col("id").cast("long"),
        (F.col("id") % 3).cast("string").alias("tenant"),
        (F.col("id") * 10).alias("val"),
    )
    lh.create(spark, path, df, key="id", partition_by=["tenant"])
    # partial delete inside tenant 0; full delete of tenant 2
    lh.delete_where(spark, path, "tenant = '0' AND id < 30", deletion_vectors=True)
    lh.delete_where(spark, path, "tenant = '2'", deletion_vectors=True)
    m = lh.read_manifest(path)
    tuples = {f["partition"]["tenant"] for f in m["files"]}
    assert "2" not in tuples, "fully dv-deleted partition still in manifest"
    # pruned point scan of tenant 0 subtracts the dv
    got = sorted(r["id"] for r in lh.scan(spark, path, point={"tenant": "0"}).collect())
    assert got == [i for i in range(30, 90) if i % 3 == 0]
    # full read: tenant 1 intact, tenant 0 partial, tenant 2 gone
    allrows = sorted(r["id"] for r in lh.read(spark, path).collect())
    assert allrows == sorted(
        [i for i in range(30, 90) if i % 3 == 0] + [i for i in range(90) if i % 3 == 1]
    )


# ---------------------------------------------------------------------------
# round 9: the DV/rewriter lost-update race, vacuum sidecar safety,
# live-row optimize sizing, reserved working-column names (ADVICE r8)
# ---------------------------------------------------------------------------


def test_compact_conflicts_on_racing_dv_delete(spark, tmp_path, monkeypatch):
    """A DV delete committing between a rewriter's snapshot read and
    its commit changes logical content WITHOUT changing any file path,
    so the path-existence conflict check alone would let the rewriter
    publish files scanned pre-DV — resurrecting the deleted rows. The
    race is provoked deterministically: the delete fires inside
    compact's first write, after its snapshot read. compact must lose
    the race, retry, and republish WITHOUT the deleted rows."""
    path = _mk(spark, tmp_path, n=100, files=4)
    real = lh._write_data_files
    calls = {"n": 0}

    def racy(df, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            lh.delete_where(spark, path, "id < 10", deletion_vectors=True)
        return real(df, *a, **k)

    monkeypatch.setattr(lh, "_write_data_files", racy)
    lh.compact(spark, path, num_files=1)
    assert calls["n"] >= 2, "compact never conflicted on the racing DV delete"
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(10, 100)]
    assert not any(f.get("dv") for f in lh.read_manifest(path)["files"])


def test_merge_conflicts_on_racing_dv_delete(spark, tmp_path, monkeypatch):
    """Same race against the stats-pruned MERGE: its survivors were
    computed pre-DV, so committing them would resurrect deleted rows.
    Post-retry the deleted keys in the batch come back as INSERTS of
    the batch rows (their table twins are gone), not as resurrected
    table rows."""
    path = _mk(spark, tmp_path, n=100, files=4)
    real = lh._write_data_files
    calls = {"n": 0}

    def racy(df, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            lh.delete_where(spark, path, "id < 10", deletion_vectors=True)
        return real(df, *a, **k)

    monkeypatch.setattr(lh, "_write_data_files", racy)
    updates = spark.range(5).select(
        F.col("id").cast("long"), F.lit(-1).cast("long").alias("val")
    )
    lh.merge_upsert(spark, path, updates)
    assert calls["n"] >= 2, "merge never conflicted on the racing DV delete"
    expect = [(i, -1) for i in range(5)] + [(i, i * 10) for i in range(10, 100)]
    assert _rows(lh.read(spark, path)) == expect


def test_vacuum_keeps_inflight_unreferenced_sidecars(spark, tmp_path):
    """Vacuum reaps only sidecars referenced by the manifests it
    drops. A sidecar just written by an in-flight, not-yet-committed
    DV delete (or bloom build) is referenced by NO manifest at that
    instant — sweeping it would make the imminent commit's head
    unreadable. Superseded sidecars from dropped manifests still go."""
    path = _mk(spark, tmp_path, n=100, files=2)
    lh.delete_where(spark, path, "id < 10", deletion_vectors=True)
    old = {f["dv"]["sidecar"] for f in lh.read_manifest(path)["files"] if f.get("dv")}
    assert old
    lh.compact(spark, path, num_files=1)  # supersedes the dv entries
    inflight_dv = os.path.join(lh._log_dir(path), lh._DV_PREFIX + "inflight")
    os.makedirs(inflight_dv)
    with open(os.path.join(inflight_dv, "part-0.parquet"), "w") as fh:
        fh.write("x")
    inflight_bloom = os.path.join(lh._log_dir(path), "bloom-inflight")
    with open(inflight_bloom, "w") as fh:
        fh.write("x")
    lh.vacuum(path, keep_last=1)
    assert os.path.isdir(inflight_dv), "vacuum raced an in-flight DV sidecar"
    assert os.path.exists(inflight_bloom), "vacuum raced an in-flight bloom"
    assert not any(os.path.isdir(s) for s in old), "superseded dv survived"
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(10, 100)]


def test_optimize_converges_mostly_dv_deleted_file(spark, tmp_path):
    """optimize_small_files sizes by LIVE rows (rows minus DV-deleted)
    so a physically large but mostly-DV-deleted file is selected and
    its deletes materialize — the documented trickle-delete convergence
    path. The rewritten file carries no dv, so a second optimize is a
    no-op (convergence, not a rewrite loop)."""
    path = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    )
    lh.create(spark, path, df.repartitionByRange(2, "id"), key="id")
    lh.delete_where(spark, path, "id < 450", deletion_vectors=True)
    m = lh.read_manifest(path)
    assert any(f.get("dv") for f in m["files"])  # precondition: dv present
    assert all(f["rows"] >= 400 for f in m["files"])  # raw rows would never select
    v = lh.optimize_small_files(spark, path, target_rows=400)
    m2 = lh.read_manifest(path)
    assert v == m2["version"] > m["version"], "mostly-deleted file never selected"
    assert not any(f.get("dv") for f in m2["files"]), "optimize left the dv"
    assert sum(f["rows"] for f in m2["files"]) == 550, "deletes not materialized"
    assert _rows(lh.read(spark, path)) == [(i, i * 10) for i in range(450, 1000)]
    assert lh.optimize_small_files(spark, path, target_rows=400) == v, "no-op loop"


def test_reserved_dv_column_names_refused(spark, tmp_path):
    """_dv_file/_dv_pos are the DV read path's working join keys; a
    user column with either name would be dropped by the keep-select
    and corrupt the anti-join — refused at create and at every
    schema-widening write."""
    bad_seed = spark.range(5).select("id", F.lit(1).alias("_dv_file"))
    with pytest.raises(lh.SchemaMismatch, match="reserved"):
        lh.create(spark, str(tmp_path / "t1"), bad_seed, key="id")
    path = _mk(spark, tmp_path)
    widen = spark.range(5).select(
        F.col("id").cast("long"),
        (F.col("id") * 10).alias("val"),
        F.lit(2).alias("_dv_pos"),
    )
    with pytest.raises(lh.SchemaMismatch, match="reserved"):
        lh.append(spark, path, widen, merge_schema=True)
    with pytest.raises(lh.SchemaMismatch, match="reserved"):
        lh.merge_upsert(spark, path, widen)


# ---------------------------------------------------------------------------
# round 9: merge-on-read MERGE (deletion_vectors=True on merge_upsert)
# ---------------------------------------------------------------------------


def _merge_batch(spark):
    """Updates for ids 10..29 (val = -id) + inserts 200..204 (val = -id)."""
    return (
        spark.range(10, 30)
        .union(spark.range(200, 205))
        .select(F.col("id").cast("long"), (-F.col("id")).alias("val"))
    )


def test_dv_merge_equals_cow_merge(spark, tmp_path):
    """DV-MERGE is logically identical to the COW MERGE — same rows,
    same CDF feed — while moving ZERO pre-existing data files (matched
    rows DV out; the batch appends as post-image files)."""
    p_cow = str(tmp_path / "cow")
    p_dv = str(tmp_path / "dv")
    df = spark.range(100).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    ).repartition(4)
    lh.create(spark, p_cow, df, key="id")
    lh.create(spark, p_dv, df, key="id")
    v_cow = lh.merge_upsert(spark, p_cow, _merge_batch(spark), track_changes=True)
    before = sorted(f["path"] for f in lh.read_manifest(p_dv)["files"])
    v_dv = lh.merge_upsert(
        spark, p_dv, _merge_batch(spark), track_changes=True, deletion_vectors=True
    )
    assert _rows(lh.read(spark, p_dv)) == _rows(lh.read(spark, p_cow))
    m = lh.read_manifest(p_dv)
    kept = [f["path"] for f in m["files"] if f["path"] in set(before)]
    assert kept == before, "DV merge rewrote or dropped a pre-existing file"
    assert any(f.get("dv") for f in m["files"]), "no dv recorded for matched rows"
    # CDF parity, tag for tag
    feed = lambda p, v: sorted(
        (r["id"], r["val"], r["_change_type"])
        for r in lh.read_changes(spark, p, v).collect()
    )
    assert feed(p_dv, v_dv) == feed(p_cow, v_cow)
    # logical delta parity (5 inserts; 20 updates are count-neutral)
    assert m["metrics"]["net_rows"] == lh.read_manifest(p_cow)["metrics"]["net_rows"] == 5


def test_dv_merge_repeat_folds_positions_and_time_travels(spark, tmp_path):
    """A second DV merge folds the first's positions for the files it
    touches (one sidecar per entry), pre-merge versions stay readable,
    and compact() materializes everything."""
    path = _mk(spark, tmp_path, n=100, files=4)
    lh.merge_upsert(spark, path, _merge_batch(spark), deletion_vectors=True)
    n_after_first = _rows(lh.read(spark, path))
    batch2 = spark.range(20, 40).select(
        F.col("id").cast("long"), F.lit(7).cast("long").alias("val")
    )
    lh.merge_upsert(spark, path, batch2, deletion_vectors=True)
    m = lh.read_manifest(path)
    assert all(
        (f.get("dv") or {}).get("sidecar", None) is None
        or os.path.isdir(f["dv"]["sidecar"])
        for f in m["files"]
    )
    expect = (
        [(i, i * 10) for i in range(10)]          # untouched originals
        + [(i, -i) for i in range(10, 20)]         # first merge, not re-touched
        + [(i, 7) for i in range(20, 40)]          # second merge wins
        + [(i, i * 10) for i in range(40, 100)]    # untouched originals
        + [(i, -i) for i in range(200, 205)]       # first merge's inserts
    )
    assert _rows(lh.read(spark, path)) == sorted(expect)
    # time travel: v1 create, v2 first merge
    assert _rows(lh.read(spark, path, version=1)) == [(i, i * 10) for i in range(100)]
    assert _rows(lh.read(spark, path, version=2)) == n_after_first
    lh.compact(spark, path, num_files=2)
    mc = lh.read_manifest(path)
    assert not any(f.get("dv") for f in mc["files"]), "compact left a dv"
    assert sum(f["rows"] for f in mc["files"]) == 105
    assert _rows(lh.read(spark, path)) == sorted(expect)


def test_dv_merge_full_file_turnover_drops_entry(spark, tmp_path):
    """A DV merge whose matches cover every remaining row of a file
    drops the entry outright (same contract as the DV delete)."""
    path = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    )
    lh.create(spark, path, df.repartitionByRange(4, "id"), key="id")
    n_files = len(lh.read_manifest(path)["files"])
    batch = spark.range(0, 10).select(
        F.col("id").cast("long"), F.lit(-1).cast("long").alias("val")
    )
    lh.merge_upsert(spark, path, batch, deletion_vectors=True)
    m = lh.read_manifest(path)
    old_with_dv = [f for f in m["files"] if f.get("dv")]
    assert len([f for f in m["files"]]) >= n_files, "entry bookkeeping broke"
    # the file holding ids 0..9 was fully matched: no dv entry may
    # reference it (it must be DROPPED, not carried at deleted==rows)
    assert not any(
        f.get("dv") and f["dv"].get("deleted", 0) >= f["rows"] for f in m["files"]
    )
    assert not old_with_dv or all(
        f["dv"]["deleted"] < f["rows"] for f in old_with_dv
    )
    assert _rows(lh.read(spark, path)) == sorted(
        [(i, -1) for i in range(10)] + [(i, i * 10) for i in range(10, 40)]
    )


def test_dv_merge_conflicts_on_racing_dv_delete(spark, tmp_path, monkeypatch):
    """The DV merge loses to a racing DV delete on its scanned files
    (its match scan and sidecar fold used stale positions) and
    recomputes — same symmetric guard every rewriter now carries."""
    path = _mk(spark, tmp_path, n=100, files=4)
    real = lh._write_data_files
    calls = {"n": 0}

    def racy(df, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            lh.delete_where(spark, path, "id >= 90", deletion_vectors=True)
        return real(df, *a, **k)

    monkeypatch.setattr(lh, "_write_data_files", racy)
    lh.merge_upsert(spark, path, _merge_batch(spark), deletion_vectors=True)
    assert calls["n"] >= 2, "DV merge never conflicted on the racing DV delete"
    expect = (
        [(i, i * 10) for i in range(10)]
        + [(i, -i) for i in range(10, 30)]
        + [(i, i * 10) for i in range(30, 90)]
        + [(i, -i) for i in range(200, 205)]
    )
    assert _rows(lh.read(spark, path)) == sorted(expect)


# ---------------------------------------------------------------------------
# round 9: UPDATE ... SET ... WHERE (copy-on-write and merge-on-read)
# ---------------------------------------------------------------------------


def test_update_where_cow_dv_parity_and_null_semantics(spark, tmp_path):
    """DV update ≡ COW update row-for-row; NULL-predicate rows are
    untouched (UPDATE applies only where the predicate IS TRUE); the
    DV table moves zero pre-existing data files; both paths read
    net_rows == 0."""
    p_cow, p_dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    df = spark.range(100).select(
        F.col("id").cast("long"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 10).alias("val"),
    ).repartition(4)
    lh.create(spark, p_cow, df, key="id")
    lh.create(spark, p_dv, df, key="id")
    before = sorted(f["path"] for f in lh.read_manifest(p_dv)["files"])
    for p, dv in ((p_cow, False), (p_dv, True)):
        lh.update_where(
            spark, p, "val < 300", {"val": "val + 1000000"}, deletion_vectors=dv
        )
    assert _rows(lh.read(spark, p_dv)) == _rows(lh.read(spark, p_cow))
    # NULL val rows (id % 10 == 0) survive untouched
    got = dict(_rows(lh.read(spark, p_dv)))
    assert got[0] is None and got[30] is None
    assert got[1] == 1000010 and got[51] == 510  # 51: val 510 ≥ 300, untouched
    m = lh.read_manifest(p_dv)
    kept = [f["path"] for f in m["files"] if f["path"] in set(before)]
    assert kept == before, "DV update rewrote a pre-existing file"
    assert m["metrics"]["net_rows"] == 0
    assert lh.read_manifest(p_cow)["metrics"]["net_rows"] == 0


def test_update_where_cdf_and_time_travel(spark, tmp_path):
    """Tracked updates serve pre/post-image pairs; the pre-update
    version stays readable; compact materializes the DV update."""
    path = _mk(spark, tmp_path, n=50, files=2)
    v = lh.update_where(
        spark,
        path,
        "id BETWEEN 10 AND 14",
        {"val": "val * 2"},
        deletion_vectors=True,
        track_changes=True,
    )
    feed = sorted(
        (r["id"], r["val"], r["_change_type"])
        for r in lh.read_changes(spark, path, v).collect()
    )
    expect = sorted(
        [(i, i * 10, "update_preimage") for i in range(10, 15)]
        + [(i, i * 20, "update_postimage") for i in range(10, 15)]
    )
    assert feed == expect
    assert _rows(lh.read(spark, path, version=1)) == [(i, i * 10) for i in range(50)]
    lh.compact(spark, path, num_files=1)
    m = lh.read_manifest(path)
    assert not any(f.get("dv") for f in m["files"])
    assert _rows(lh.read(spark, path)) == sorted(
        [(i, i * 10) for i in range(50) if not 10 <= i <= 14]
        + [(i, i * 20) for i in range(10, 15)]
    )


def test_update_where_refuses_generated_and_unknown_columns(spark, tmp_path):
    """Generated columns can't be SET directly (their sources can —
    and the expression recomputes); unknown columns refuse; CHECK
    constraints re-validate post-images."""
    path = str(tmp_path / "gen")
    df = spark.range(20).select(F.col("id").cast("long"), (F.col("id") * 10).alias("val"))
    lh.create(
        spark,
        path,
        df,
        key="id",
        generated={"val2": "val * 2"},
        constraints={"val_cap": "val < 100000"},
    )
    with pytest.raises(ValueError, match="generated"):
        lh.update_where(spark, path, "id = 1", {"val2": "0"})
    with pytest.raises(lh.SchemaMismatch, match="no such columns"):
        lh.update_where(spark, path, "id = 1", {"nope": "0"})
    with pytest.raises(lh.ConstraintViolation):
        lh.update_where(spark, path, "id = 1", {"val": "val + 100000"})
    lh.update_where(spark, path, "id = 1", {"val": "val + 7"})
    row = lh.read(spark, path).filter("id = 1").collect()[0]
    assert row["val"] == 17 and row["val2"] == 34, "generated column not recomputed"


def test_update_where_prunes_and_conflicts_on_racing_dv(spark, tmp_path, monkeypatch):
    """Stats pruning keeps un-matchable files untouched (prune='auto'),
    and a racing DV delete on the scanned input forces recompute."""
    path = str(tmp_path / "tbl")
    df = spark.range(100).select(F.col("id").cast("long"), (F.col("id") * 10).alias("val"))
    lh.create(spark, path, df.repartitionByRange(4, "id"), key="id")
    files_before = {f["path"] for f in lh.read_manifest(path)["files"]}
    lh.update_where(spark, path, "id < 10", {"val": "-1"}, prune="auto")
    m = lh.read_manifest(path)
    untouched = {f["path"] for f in m["files"]} & files_before
    assert len(untouched) >= 3, "pruning rewrote files the predicate cannot match"
    real = lh._write_data_files
    calls = {"n": 0}

    def racy(df_, *a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            lh.delete_where(spark, path, "id >= 95", deletion_vectors=True)
        return real(df_, *a, **k)

    monkeypatch.setattr(lh, "_write_data_files", racy)
    lh.update_where(spark, path, "id >= 90", {"val": "0"})
    assert calls["n"] >= 2, "COW update never conflicted on the racing DV delete"
    got = dict(_rows(lh.read(spark, path)))
    assert all(got[i] == 0 for i in range(90, 95)) and 95 not in got


def _mk_range(spark, tmp_path, partition_by=None):
    """ids 0..99 (val = id * 10, b = id // 25) in four key-range
    files, so a narrow id predicate touches exactly one file."""
    path = str(tmp_path / "rtbl")
    df = spark.range(100).select(
        F.col("id").cast("long"),
        (F.col("id") * 10).alias("val"),
        (F.col("id") / 25).cast("long").alias("b"),
    )
    lh.create(spark, path, df.repartitionByRange(4, "id"), key="id", partition_by=partition_by)
    return path


def _unreferenced(path):
    """Data files, change files, uuid dirs under data/ and changes/,
    and DV sidecars that no manifest of the table references."""
    log = lh._log_dir(path)
    refs = set()
    for n in os.listdir(log):
        if n.endswith(".json") and n[:-5].isdigit():
            m = lh.read_manifest(path, int(n[:-5]))
            refs.update(f["path"] for f in m["files"])
            refs.update(f["dv"]["sidecar"] for f in m["files"] if f.get("dv"))
            refs.update(m.get("changes", []))
    stray = [
        os.path.join(log, n)
        for n in os.listdir(log)
        if n.startswith(lh._DV_PREFIX) and os.path.join(log, n) not in refs
    ]
    for area in (lh._DATA, lh._CHANGES):
        root = os.path.join(path, area)
        for d in os.listdir(root) if os.path.isdir(root) else []:
            files = [
                os.path.join(r, n)
                for r, _, names in os.walk(os.path.join(root, d))
                for n in names
                if n.endswith(".parquet")
            ]
            stray += [f for f in files if f not in refs]
            if not any(f in refs for f in files):
                stray.append(os.path.join(root, d))
    return stray


def _upd(spark):
    return spark.createDataFrame(
        [(i, -1, 0) for i in range(5)] + [(200, -1, 8)], "id long, val long, b long"
    )


# verb → (partitioned table?, call, expected {id: val} after the race
# deleted ids 6 and 7 and the verb re-planned against it)
_BASE = {i: i * 10 for i in range(100) if i not in (6, 7)}
_RACED_REWRITES = {
    "merge_cow": (
        False,
        lambda s, p: lh.merge_upsert(s, p, _upd(s), track_changes=True),
        {**_BASE, **{i: -1 for i in (0, 1, 2, 3, 4, 200)}},
    ),
    "merge_dv": (
        False,
        lambda s, p: lh.merge_upsert(
            s, p, _upd(s), track_changes=True, deletion_vectors=True
        ),
        {**_BASE, **{i: -1 for i in (0, 1, 2, 3, 4, 200)}},
    ),
    "delete_cow": (
        False,
        lambda s, p: lh.delete_where(s, p, "id < 5", prune="auto", track_changes=True),
        {i: v for i, v in _BASE.items() if i >= 5},
    ),
    "delete_dv": (
        False,
        lambda s, p: lh.delete_where(
            s, p, "id < 5", prune="auto", track_changes=True, deletion_vectors=True
        ),
        {i: v for i, v in _BASE.items() if i >= 5},
    ),
    "update_cow": (
        False,
        lambda s, p: lh.update_where(
            s, p, "id < 5", {"val": "-1"}, prune="auto", track_changes=True
        ),
        {**_BASE, **{i: -1 for i in range(5)}},
    ),
    "update_dv": (
        False,
        lambda s, p: lh.update_where(
            s, p, "id < 5", {"val": "-1"}, prune="auto", track_changes=True,
            deletion_vectors=True,
        ),
        {**_BASE, **{i: -1 for i in range(5)}},
    ),
    "replace_where": (
        True,
        lambda s, p: lh.replace_where(
            s, p, "b = 0",
            s.range(25).select(
                F.col("id").cast("long"), (-F.col("id")).alias("val"), F.lit(0).cast("long").alias("b")
            ),
            track_changes=True,
        ),
        {**_BASE, **{i: -i for i in range(25)}},
    ),
    "repartition_table": (False, lambda s, p: lh.repartition_table(s, p, ["b"]), _BASE),
    "zorder_cluster": (
        False, lambda s, p: lh.zorder_cluster(s, p, ["id", "val"], num_files=2), _BASE
    ),
    "compact": (False, lambda s, p: lh.compact(s, p, num_files=1), _BASE),
    "optimize_small_files": (
        False, lambda s, p: lh.optimize_small_files(s, p, target_rows=1000), _BASE
    ),
}


@pytest.mark.parametrize("verb", sorted(_RACED_REWRITES))
def test_every_rewriter_retries_a_racing_dv_delete_and_leaves_no_orphans(
    spark, tmp_path, monkeypatch, verb
):
    """A DV delete of ids 6 and 7 (inside every verb's read set, and
    on the very file a DV delete of id < 5 stamps) commits between the
    verb's snapshot read and its commit. Every rewrite path must lose,
    re-plan against the new head and commit rows that honour both
    writers — and the losing attempt's data dirs, change-feed dirs and
    DV sidecar must be gone: after the commit nothing under data/,
    changes/ or _log/dv-* is unreferenced."""
    partitioned, call, expect = _RACED_REWRITES[verb]
    path = _mk_range(spark, tmp_path, ["b"] if partitioned else None)
    real = lh._commit
    commits = []

    def racy(p, build):
        commits.append(p)
        if len(commits) == 1:  # the race's own commit is commits[1]
            lh.delete_where(spark, path, "id IN (6, 7)", deletion_vectors=True)
        return real(p, build)

    monkeypatch.setattr(lh, "_commit", racy)
    call(spark, path)
    assert len(commits) >= 3, f"{verb} never conflicted on the racing DV delete"
    assert _rows(lh.read(spark, path)) == sorted(expect.items())
    assert _unreferenced(path) == []


def test_empty_partitioned_write_leaves_no_marker_dir(spark, tmp_path):
    """A partitioned write of no rows writes no parquet file, only
    Spark's _SUCCESS/.crc markers; that data/<uuid>/ must not stay
    behind, because no manifest can ever name it. Here the winning
    delete of the whole b = 1 partition writes zero survivors."""
    path = str(tmp_path / "marker")
    df = spark.range(8).select(F.col("id").cast("long"), (F.col("id") % 2).alias("b"))
    lh.create(spark, path, df, key="id", partition_by=["b"])
    lh.delete_where(spark, path, "b = 1", prune="auto")
    assert sorted(r["id"] for r in lh.read(spark, path).collect()) == [0, 2, 4, 6]
    assert _unreferenced(path) == []


def _input_records(spark, call):
    """Run call() under a job group of its own; return the input
    records its non-skipped stages read, from the status store once
    the listener bus has applied every event."""
    sc = spark.sparkContext
    group = f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    total = 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - the stage never got an attempt
                continue
            if sd.status().toString() != "SKIPPED":
                total += sd.inputRecords()
    return total


def test_dv_delete_and_merge_read_the_touched_files_once(spark, tmp_path):
    """A DV delete and a DV merge each read their touched files once:
    the sidecar is written first and the per-file counts come from it,
    so each verb's jobs read fewer than two tables' worth of records
    (the sidecar reads are one row per deleted position)."""
    path = _mk(spark, tmp_path, n=4000, files=4)
    rows = sum(f["rows"] for f in lh.read_manifest(path)["files"])
    deleted = _input_records(
        spark, lambda: lh.delete_where(spark, path, "id % 100 = 0", deletion_vectors=True)
    )
    ups = spark.createDataFrame([(i, -1) for i in range(0, 4000, 50)], "id long, val long")
    assert {f["path"] for f in lh.plan_files(path, key_min=0, key_max=3950)} == {
        f["path"] for f in lh.read_manifest(path)["files"]
    }, "the merge must touch every file"
    merged = _input_records(
        spark, lambda: lh.merge_upsert(spark, path, ups, deletion_vectors=True)
    )
    assert rows <= deleted < 2 * rows
    assert rows <= merged < 2 * rows
    got = dict(_rows(lh.read(spark, path)))
    # 40 deleted ids re-inserted, 40 live ids updated
    assert len(got) == 4000 and all(got[i] == -1 for i in range(0, 4000, 50))


def test_dv_merge_prunes_on_the_written_batch_footers(spark, tmp_path, monkeypatch):
    """A DV merge writes its batch first and prunes on the key range of
    the written files' footer stats, so it runs no min/max pass over
    the batch (DataFrame.agg fails here) and touches only the file
    whose key range meets the batch's."""
    path = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").cast("long"), (F.col("id") * 10).alias("val"))
    lh.create(spark, path, df.repartitionByRange(4, "id"), key="id")
    ups = spark.createDataFrame([(3, -1), (7, -2)], "id long, val long")
    hit = {f["path"] for f in lh.plan_files(path, key_min=3, key_max=7)}
    assert len(hit) == 1

    def no_agg(*a, **kw):
        raise AssertionError("DV merge ran a min/max pass over its batch")

    monkeypatch.setattr(type(ups), "agg", no_agg)
    lh.merge_upsert(spark, path, ups, deletion_vectors=True)
    monkeypatch.undo()
    assert {f["path"] for f in lh.read_manifest(path)["files"] if f.get("dv")} == hit
    got = dict(_rows(lh.read(spark, path)))
    assert len(got) == 100 and got[3] == -1 and got[7] == -2 and got[4] == 40


def test_dv_merge_on_a_double_key_equals_cow_merge(spark, tmp_path):
    """A key whose footer stats are not ints or strings (a double)
    takes the min/max pass instead; the DV merge still equals the COW
    one."""
    df = spark.range(60).select(
        (F.col("id") * 1.5).alias("k"), F.col("id").alias("val")
    ).repartitionByRange(3, "k")
    ups = spark.createDataFrame([(15.0, -1), (105.0, -2)], "k double, val long")
    tables = {}
    for name, dv in (("cow", False), ("dv", True)):
        p = str(tmp_path / name)
        lh.create(spark, p, df, key="k")
        lh.merge_upsert(spark, p, ups, deletion_vectors=dv)
        tables[name] = sorted(tuple(r) for r in lh.read(spark, p).collect())
    assert tables["dv"] == tables["cow"] and len(tables["dv"]) == 61
    assert (15.0, -1) in tables["dv"] and (105.0, -2) in tables["dv"]


@pytest.mark.parametrize("partitioned", [False, True])
def test_dv_merge_of_an_empty_batch_raises_and_writes_nothing(spark, tmp_path, partitioned):
    """An empty batch refuses as before; the DV merge's batch files,
    written before the key range is known, are deleted."""
    if partitioned:
        path, df = _mk_part(spark, tmp_path)
        empty = df.limit(0)
    else:
        path = _mk(spark, tmp_path)
        empty = spark.createDataFrame([], "id long, val long")
    data_dirs = set(os.listdir(os.path.join(path, "data")))
    with pytest.raises(ValueError, match="batch is empty"):
        lh.merge_upsert(spark, path, empty, deletion_vectors=True)
    assert set(os.listdir(os.path.join(path, "data"))) == data_dirs
    assert lh.current_version(path) == 1


def _sidecar_positions(spark, sidecar):
    """{manifest path: (positions, distinct positions)} a sidecar holds."""
    return {
        lh._plain_path(r["_dv_file"]): (r["n"], r["d"])
        for r in spark.read.parquet(sidecar)
        .groupBy("_dv_file")
        .agg(F.count("_dv_pos").alias("n"), F.countDistinct("_dv_pos").alias("d"))
        .collect()
    }


def test_dv_sidecar_holds_exactly_each_entry_deleted_count(spark, tmp_path):
    """DV delete, repeat DV delete, DV merge, DV update on one table:
    after every step each dv'd entry's ``deleted`` equals the distinct
    positions its sidecar holds for it, and the table reads row for
    row like its copy-on-write twin."""
    p_cow, p_dv = str(tmp_path / "cow"), str(tmp_path / "dv")
    df = spark.range(200).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    ).repartition(4)
    lh.create(spark, p_cow, df, key="id")
    lh.create(spark, p_dv, df, key="id")
    steps = [
        lambda p, dv: lh.delete_where(spark, p, "id % 7 = 0", deletion_vectors=dv),
        lambda p, dv: lh.delete_where(spark, p, "id % 5 = 0", deletion_vectors=dv),
        lambda p, dv: lh.merge_upsert(spark, p, _merge_batch(spark), deletion_vectors=dv),
        lambda p, dv: lh.update_where(
            spark, p, "id % 3 = 0", {"val": "val + 1"}, deletion_vectors=dv
        ),
    ]
    for step in steps:
        step(p_cow, False)
        step(p_dv, True)
        dvd = [f for f in lh.read_manifest(p_dv)["files"] if f.get("dv")]
        assert dvd, "no dv recorded"
        for f in dvd:
            n, d = _sidecar_positions(spark, f["dv"]["sidecar"])[f["path"]]
            assert n == d == f["dv"]["deleted"], f["path"]
        assert _rows(lh.read(spark, p_dv)) == _rows(lh.read(spark, p_cow))


def test_dv_verbs_matching_no_row_leave_no_sidecar(spark, tmp_path):
    """A DV delete, update and merge whose touched files hold no
    matching row write a sidecar first and must delete it: no
    ``_log/dv-*`` dir is left, and no entry gains a dv."""
    path = _mk(spark, tmp_path, n=100, files=4)
    lh.delete_where(spark, path, "id = 50")  # a key gap inside every file's range
    lh.delete_where(spark, path, "id = 50", deletion_vectors=True)
    lh.update_where(spark, path, "id = 50", {"val": "-1"}, deletion_vectors=True)
    lh.merge_upsert(
        spark, path, spark.createDataFrame([(50, -1)], "id long, val long"),
        deletion_vectors=True,
    )
    assert not [n for n in os.listdir(lh._log_dir(path)) if n.startswith(lh._DV_PREFIX)]
    assert not any(f.get("dv") for f in lh.read_manifest(path)["files"])
    assert _rows(lh.read(spark, path)) == [(i, -1 if i == 50 else i * 10) for i in range(100)]


# ---------------------------------------------------------------------------
# Named refs: tags/branches over versions (create / re-point / drop),
# read(ref=) resolution, and the vacuum horizon guard.
# ---------------------------------------------------------------------------


def test_ref_create_read_equivalence(spark, tmp_path):
    path = _mk(spark, tmp_path, n=20, files=2)  # v1
    lh.create_ref(path, "baseline")  # tag at head (v1)
    lh.append(spark, path, spark.range(20, 30).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")))  # v2
    # tag still reads the v1 snapshot; ref-read ≡ version-read
    assert _rows(lh.read(spark, path, ref="baseline")) == _rows(
        lh.read(spark, path, version=1)
    )
    assert lh.read(spark, path).count() == 30  # head unaffected
    refs = lh.list_refs(path)
    assert refs["baseline"] == {"name": "baseline", "version": 1, "kind": "tag"}


def test_ref_ddl_contracts(spark, tmp_path):
    path = _mk(spark, tmp_path, n=10)
    lh.create_ref(path, "t1")  # tag
    with pytest.raises(FileExistsError):
        lh.create_ref(path, "t1")  # name taken
    with pytest.raises(ValueError):
        lh.create_ref(path, "bad name!")  # identifier rule
    with pytest.raises(ValueError):
        lh.create_ref(path, "x", kind="wat")
    with pytest.raises(FileNotFoundError):
        lh.create_ref(path, "ghost", version=99)  # target must exist
    with pytest.raises(ValueError):
        lh.set_ref(path, "t1", 1)  # tags are immutable
    with pytest.raises(KeyError):
        lh.set_ref(path, "nope", 1)
    with pytest.raises(KeyError):
        lh.drop_ref(path, "nope")
    with pytest.raises(KeyError):
        lh.read(spark, path, ref="nope")
    with pytest.raises(ValueError):
        lh.read(spark, path, version=1, ref="t1")  # one or the other
    lh.drop_ref(path, "t1")
    assert lh.list_refs(path) == {}


def test_branch_repoint_promote_flow(spark, tmp_path):
    """The experiment/promote loop: consumers read(ref='prod') while
    new versions land; promote = one atomic set_ref."""
    path = _mk(spark, tmp_path, n=10)  # v1
    lh.create_ref(path, "prod", kind="branch")  # prod -> v1
    lh.delete_where(spark, path, "id >= 5")  # v2 (the experiment)
    assert lh.read(spark, path, ref="prod").count() == 10  # consumers pinned
    lh.set_ref(path, "prod", 2)  # promote
    assert lh.read(spark, path, ref="prod").count() == 5
    assert lh.list_refs(path)["prod"]["version"] == 2


def test_vacuum_never_reaps_ref_target(spark, tmp_path):
    path = _mk(spark, tmp_path, n=30, files=3)  # v1
    lh.create_ref(path, "keepme")  # tag v1
    lh.delete_where(spark, path, "id >= 10")  # v2 rewrites
    lh.compact(spark, path)  # v3
    lh.vacuum(path, keep_last=1)
    # v1 survives the sweep because the tag holds it: manifest present,
    # files readable, time travel intact
    assert lh.read(spark, path, ref="keepme").count() == 30
    assert lh.read(spark, path, version=1).count() == 30
    # v2 (unref'd, behind the horizon) is gone
    with pytest.raises(FileNotFoundError):
        lh.read_manifest(path, 2)
    # dropping the ref releases the hold: the next vacuum reaps v1
    lh.drop_ref(path, "keepme")
    lh.vacuum(path, keep_last=1)
    with pytest.raises(FileNotFoundError):
        lh.read_manifest(path, 1)
    assert lh.read(spark, path).count() == 10  # head intact throughout


# ---------------------------------------------------------------------------
# The deletion-vector and catalog-transaction lake ops, checked against
# their shipping oracles with an order-insensitive row compare.
# ---------------------------------------------------------------------------


def _compare(sdf, con, sql):
    ddf = con.execute(sql).fetchdf()
    pdf = sdf.toPandas()
    cols = sorted(pdf.columns)
    assert cols == sorted(ddf.columns)
    s = sorted(map(str, pdf[cols].itertuples(index=False, name=None)))
    d = sorted(map(str, ddf[cols].itertuples(index=False, name=None)))
    assert s == d


def test_r9_ops_are_registered():
    from lambda_hive_spark.registry import all_ops

    ops = all_ops()
    assert "lake_deletion_vector" in ops
    assert "catalog_txn_atomic" in ops
    assert "side_effect" in ops["lake_deletion_vector"].tags
    assert "side_effect" in ops["catalog_txn_atomic"].tags
    # round-9 lifted the round-8 freeze: 351 + staged pair +
    # join_star_bucketed + lake_update_where + events_global_seq;
    # round-10 build added the lake SQL surface (lake_sql_dml,
    # lake_sql_insert) and named refs (lake_named_refs) → 359
    assert len(ops) == 359


def test_lake_deletion_vector_matches_oracle(spark, duck):
    from lambda_hive_spark.operators.lake import (
        LAKE_DV_ORACLE,
        lake_deletion_vector,
    )

    _compare(lake_deletion_vector(spark, SF), duck, LAKE_DV_ORACLE)


def test_catalog_txn_atomic_matches_oracle(spark, duck):
    from lambda_hive_spark.operators.lake import (
        CATALOG_TXN_ORACLE,
        catalog_txn_atomic,
    )

    _compare(catalog_txn_atomic(spark, SF), duck, CATALOG_TXN_ORACLE)
