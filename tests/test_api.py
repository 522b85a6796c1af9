"""Engine facade surface (lambda_hive_spark.api)."""

from __future__ import annotations

import pytest

from lambda_hive_spark.api import Engine
from tests.conftest import SF_SMALL


@pytest.fixture()
def eng(spark):
    return Engine(SF_SMALL, spark=spark)


def test_table_and_sql(eng):
    assert eng.table("orders").count() == 1500
    assert eng.sql("SELECT COUNT(*) AS n FROM orders").collect()[0].n == 1500


def test_run_known_op_and_oracle(eng):
    df = eng.run("agg_hash")
    assert df.count() > 0
    assert "SELECT" in eng.oracle("agg_hash").upper()
    assert eng.oracle("sim_knn_ivf") is not None  # oracle-ized in round 4


def test_run_unknown_op_raises(eng):
    with pytest.raises(KeyError, match="unknown op"):
        eng.run("definitely_not_an_op")


def test_ops_inventory_complete(eng):
    ops = eng.ops()
    assert len(ops) >= 126
    assert "dedup_ngram_jaccard" in ops and "stream_tumbling" in ops


def test_dag_builder(eng):
    run = eng.dag().add("one", lambda s: 1).run(eng.spark)
    assert run.results == {"one": 1}


def test_explain_and_cache(eng):
    plan = eng.explain("scan_filtered")
    assert "PushedFilters" in plan
    cached = eng.cache_table("nation")
    assert cached.count() == 25
    assert eng.spark.catalog.isCached("nation")
    plan2 = cached._jdf.queryExecution().executedPlan().toString()
    assert "In-memory table" in plan2 or "InMemoryRelation" in plan2
    eng.spark.catalog.uncacheTable("nation")


def test_explain_refuses_side_effecting_ops(eng):
    with pytest.raises(ValueError, match="side_effects"):
        eng.explain("sink_parquet")
    # opt-in executes and returns the plan
    plan = eng.explain("sink_parquet", allow_side_effects=True)
    assert "Scan parquet" in plan or "FileScan" in plan


def test_graded_manifest_hash_guard(tmp_path, monkeypatch):
    """An op whose implementation changed since driver grading must be
    treated as ungraded (re-queued to the front of the driver window)."""
    import json

    import __spark_entry__ as entry
    from lambda_hive_spark.registry import all_ops, op_source_hash

    ops = all_ops()
    good = op_source_hash(ops["agg_hash"])
    manifest = {
        "r01": ["agg_hash", "agg_global"],
        "hashes": {"agg_hash": good, "agg_global": "0" * 16},  # stale fp
    }
    (tmp_path / "GRADED.json").write_text(json.dumps(manifest))
    monkeypatch.setattr(entry, "_REPO", str(tmp_path))
    graded = entry._graded_names()
    assert "agg_hash" in graded
    assert "agg_global" not in graded  # hash mismatch → re-queued


def test_table_catalog_cache_reuses_and_invalidates(spark, tmp_path):
    """io.table() acts as a catalog: repeated loads return the same
    DataFrame object (no re-list / footer re-read per query), and a
    regenerated source parquet — the driver rewrites fixtures between
    rounds — invalidates the entry via its (mtime, size) stamp."""
    import os
    import shutil

    from lambda_hive_spark.io import table

    d1 = table(spark, "/root/testdata/sf0.001", "nation")
    d2 = table(spark, "/root/testdata/sf0.001", "nation")
    assert d1 is d2

    # regenerate a copy of the corpus file -> cache must miss
    src = "/root/testdata/sf0.001/nation.parquet"
    dst = str(tmp_path / "nation.parquet")
    shutil.copyfile(src, dst)
    a = table(spark, str(tmp_path), "nation")
    assert a.count() == 25
    sub = a.limit(5).toPandas()
    spark.createDataFrame(sub).coalesce(1).write.mode("overwrite").parquet(dst + ".new")
    os.replace(next(str(p) for p in (tmp_path / "nation.parquet.new").glob("part-*.parquet")), dst)
    b = table(spark, str(tmp_path), "nation")
    assert b is not a
    assert b.count() == 5


def test_engine_lake_facade_roundtrip(spark, tmp_path):
    """Engine.lake(): the facade delegates to lakehouse.py with the
    bound session/path — create → merge → compact → history covers
    every verb once; protocol depth lives in test_lakehouse.py."""
    from pyspark.sql import functions as F

    from lambda_hive_spark.api import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.001", spark=spark)
    t = eng.lake(str(tmp_path / "facade_tbl"))
    t.create(
        spark.range(20).select("id", (F.col("id") * 2).alias("v")), key="id"
    )
    t.append(spark.range(20, 25).select("id", (F.col("id") * 2).alias("v")))
    t.merge_upsert(spark.createDataFrame([(3, -1)], "id long, v long"))
    t.compact()
    assert t.version() == 4
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got[3] == -1 and got[4] == 8 and len(got) == 25
    hist = t.history()
    assert [h["action"] for h in hist] == ["create", "append", "merge", "compact"]
    assert hist[-1]["n_rows"] == 25
    # time travel through the facade
    assert t.read(version=1).count() == 20


def test_engine_lake_facade_new_verbs(spark, tmp_path):
    """One-touch coverage of the continuation-session verbs through
    the facade: constraints, bloom point lookup, scan_where auto
    pruning, delete_where(prune="auto"), restore, metrics in history."""
    from pyspark.sql import functions as F

    from lambda_hive_spark.api import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.001", spark=spark)
    t = eng.lake(str(tmp_path / "facade2_tbl"))
    t.create(
        spark.range(0, 100, 2).select("id", (F.col("id") * 2).alias("v")),
        key="id",
        constraints={"v_nonneg": "v >= 0"},
    )
    import pytest as _pt

    from lambda_hive_spark import lakehouse as lh

    with _pt.raises(lh.ConstraintViolation):
        t.append(spark.createDataFrame([(999, -1)], "id long, v long"))
    t.bloom_index("id")
    assert t.scan(point={"id": 51}).count() == 0  # absent: zero files planned
    assert t.scan(point={"id": 50}).collect()[0]["v"] == 100
    assert t.scan_where("id BETWEEN 10 AND 20 AND v > 0").count() == 6
    t.delete_where("id >= 90")  # prune="auto" default
    assert t.read().count() == 45
    t.restore(2)  # back to the post-bloom snapshot (delete undone)
    assert t.read().count() == 50
    assert t.history()[-1]["action"] == "restore"
    assert t.history()[-1]["metrics"]["net_rows"] == 5


def test_engine_lake_facade_partition_verbs(spark, tmp_path):
    """One-touch coverage of the round-6 partitioning verbs through
    the facade: partitioned+generated create, partitions listing,
    replace_where, repartition_table, clone_to. Protocol depth lives
    in test_lakehouse.py."""
    from pyspark.sql import functions as F

    from lambda_hive_spark.api import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.001", spark=spark)
    t = eng.lake(str(tmp_path / "ptbl"))
    df = spark.range(30).select(
        "id",
        F.expr(
            "timestamp'2024-05-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0)"
        ).alias("ts"),
        (F.col("id") * 3).alias("v"),
    )
    t.create(df, key="id", partition_by=["day"], generated={"day": "to_date(ts)"})
    parts = t.partitions()
    assert sum(p["rows"] for p in parts) == 30 and len(parts) == 2
    day = parts[0]["day"]
    new = t.read().filter(f"day = DATE'{day}'").withColumn("v", F.col("v") * -1)
    t.replace_where(f"day = DATE'{day}'", new)
    assert t.read().filter(f"day = DATE'{day}' AND v > 0").count() == 0
    clone = eng.lake(str(tmp_path / "ptbl_clone"))
    t.clone_to(clone.path)
    assert clone.partitions() == t.partitions()
    t.repartition_table(None)  # un-partition the source
    import pytest as _pt

    with _pt.raises(ValueError):
        t.partitions()
    assert clone.read().count() == 30  # clone untouched by the rewrite


def test_lake_facade_binds_every_lakehouse_verb(monkeypatch):
    """LakeTable declares no lakehouse parameter list: every public
    lakehouse function whose leading parameters are (spark, path),
    (spark, source) or (path) is reachable with those bound, keeps
    lakehouse's signature and docstring, and forwards its arguments
    unchanged. JVM-free: the session is a bare object."""
    import inspect

    from lambda_hive_spark import lakehouse
    from lambda_hive_spark.api import LakeTable

    public = {
        n: f
        for n, f in vars(lakehouse).items()
        if not n.startswith("_") and inspect.isfunction(f) and f.__module__ == lakehouse.__name__
    }
    leads = [("spark", "path"), ("spark", "source"), ("path",)]
    verbs = {}
    for n, f in public.items():
        params = tuple(inspect.signature(f).parameters)
        for lead in leads:
            if params[: len(lead)] == lead:
                verbs[n] = len(lead)
                break
    assert {"merge_upsert", "update_where", "optimize_small_files", "plan_files",
            "read_manifest", "resolve_ref", "clone", "history"} <= set(verbs)
    assert "compile_prune_box" in public and "compile_prune_box" not in verbs

    spark = object()
    t = LakeTable(spark, "/t")
    auto = {"delete_where", "update_where"}
    for n, k in verbs.items():
        sig = inspect.signature(public[n])
        params = list(sig.parameters.values())[k:]
        if n in auto:
            params = [p.replace(default="auto") if p.name == "prune" else p for p in params]
        assert inspect.signature(getattr(t, n)) == sig.replace(parameters=params), n
        assert getattr(t, n).__doc__ == public[n].__doc__, n
    assert set(verbs) | {"version", "refs", "clone_to"} <= set(dir(t))

    calls = []
    for n in public:
        monkeypatch.setattr(
            lakehouse, n, lambda *a, _n=n, **kw: calls.append((_n, a, kw)) or _n
        )
    assert {n for n in public if hasattr(t, n)} == set(verbs)
    for n, k in verbs.items():
        assert getattr(t, n)(1, "x", flag=2) == n
        bound = (spark, "/t") if k == 2 else ("/t",)
        kw = {"prune": "auto", "flag": 2} if n in auto else {"flag": 2}
        assert calls[-1] == (n, (*bound, 1, "x"), kw), n
    t.delete_where("id > 1", prune=None)
    assert calls[-1] == ("delete_where", (spark, "/t", "id > 1"), {"prune": None})
    t.version()
    assert calls[-1] == ("current_version", ("/t",), {})
    t.refs()
    assert calls[-1] == ("list_refs", ("/t",), {})
    t.clone_to("/c")
    assert calls[-1] == ("clone", (spark, "/t", "/c"), {})


def test_engine_lake_facade_dv_update_optimize(spark, tmp_path):
    """Verbs the facade used to lack, through Engine.lake: a DV merge,
    update_where (auto-pruned) and optimize_small_files; history
    reports each snapshot's physical n_rows. The base table is written
    as one 10-row file, then as ten 1-row files: a DV that deletes a
    file's only row drops its entry, so n_rows after the merge counts
    that file's row out."""
    from pyspark.sql import functions as F

    eng = Engine(sf_dir=SF_SMALL, spark=spark)
    for n_files, merged_rows in ((1, 12), (10, 11)):
        t = eng.lake(str(tmp_path / f"dv_tbl_{n_files}"))
        base = spark.range(0, 10, 1, n_files)
        t.create(base.select("id", (F.col("id") * 2).alias("v")), key="id")
        assert len(t.plan_files()) == n_files
        t.merge_upsert(
            spark.createDataFrame([(3, -1), (10, 20)], "id long, v long"),
            deletion_vectors=True,
        )
        t.update_where("id >= 8", {"v": "v + 100"})
        t.append(spark.range(11, 13).select("id", (F.col("id") * 2).alias("v")))
        t.optimize_small_files(target_rows=100)
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert len(got) == 13 and got[3] == -1 and got[8] == 116 and got[10] == 120
        assert got[12] == 24
        hist = t.history()
        assert [h["action"] for h in hist][:2] == ["create", "merge_dv"]
        # 10 base rows (id 3 DV-masked, or dropped with its 1-row file) + 2 upserted
        assert hist[1]["n_rows"] == merged_rows
        assert hist[-1]["n_files"] == 1 and hist[-1]["n_rows"] == 13
