"""LakeSQL statement-surface tests (lambda_hive_spark/lake_sql.py).

Two families: (1) happy paths — each statement shape compiles onto the
right lakehouse verb and produces the same state the Python API would;
(2) refusal paths — every unsupported construct raises a ValueError
that names the construct and the escape hatch (the strictness IS the
contract: a statement this surface accepts must mean exactly what the
verb does, never an approximation).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lambda_hive_spark import lakehouse as lh
from lambda_hive_spark.lake_sql import LakeSQL


@pytest.fixture()
def env(spark, tmp_path):
    """A lake table 't' (ids 0..99, val = id*10) plus a LakeSQL bound
    to it."""
    path = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    )
    lh.create(spark, path, df.repartition(4), key="id")
    return LakeSQL(spark, {"t": path}), path


def _rows(df):
    return sorted((r["id"], r["val"]) for r in df.collect())


# -- UPDATE / DELETE ---------------------------------------------------


def test_update_where(env, spark):
    lsql, path = env
    out = lsql.sql("UPDATE t SET val = val + 1 WHERE id < 10").collect()
    assert out[0]["statement"] == "UPDATE" and out[0]["version"] == 2
    got = dict(_rows(lh.read(spark, path)))
    assert got[0] == 1 and got[9] == 91 and got[10] == 100


def test_update_without_where_touches_all(env, spark):
    lsql, path = env
    lsql.sql("UPDATE t SET val = 0")
    assert all(v == 0 for _, v in _rows(lh.read(spark, path)))


def test_update_multi_assignment_and_string_literal(env, spark):
    lsql, path = env
    # literal contains SET/WHERE/, — the masking must keep it opaque
    lsql.sql(
        "UPDATE t SET val = val * 2, id = id WHERE 'set , where' = 'set , where' AND id = 1"
    )
    assert dict(_rows(lh.read(spark, path)))[1] == 20


def test_delete_where_and_full_delete(env, spark):
    lsql, path = env
    lsql.sql("DELETE FROM t WHERE id >= 50")
    assert lh.read(spark, path).count() == 50
    lsql.sql("DELETE FROM t")
    assert lh.read(spark, path).count() == 0


def test_update_rider_deletion_vectors(env, spark):
    lsql, path = env
    files_v1 = {f["path"] for f in lh.read_manifest(path)["files"]}
    lsql.sql("UPDATE t SET val = -1 WHERE id = 3", deletion_vectors=True)
    m = lh.read_manifest(path)
    assert files_v1 <= {f["path"] for f in m["files"]}, "DV update moved a file"
    assert dict(_rows(lh.read(spark, path)))[3] == -1


def test_boolean_literal_predicates(env, spark):
    """TRUE and FALSE as a whole predicate mean what they say: WHERE
    false deletes nothing, WHERE true updates every row."""
    lsql, path = env
    lsql.sql("DELETE FROM t WHERE false")
    assert lh.read(spark, path).count() == 100
    lsql.sql("UPDATE t SET val = -1 WHERE true")
    assert {v for _, v in _rows(lh.read(spark, path))} == {-1}


# -- INSERT ------------------------------------------------------------


def test_insert_values_and_select(env, spark):
    lsql, path = env
    lsql.sql("INSERT INTO t VALUES (200, 1), (201, 2)")
    got = dict(_rows(lh.read(spark, path)))
    assert got[200] == 1 and got[201] == 2 and len(got) == 102
    # column-list form maps by NAME (reversed order here)
    lsql.sql("INSERT INTO t (val, id) VALUES (7, 300)")
    assert dict(_rows(lh.read(spark, path)))[300] == 7
    # SELECT source, including a lake-table read with time travel
    lsql.sql(
        "INSERT INTO t SELECT id + 400, val FROM t VERSION AS OF 1 WHERE id < 3"
    )
    got = dict(_rows(lh.read(spark, path)))
    assert got[400] == 0 and got[402] == 20 and len(got) == 106


def test_insert_replace_where_partition_overwrite(spark, tmp_path):
    lsql = LakeSQL(spark, {})
    path = str(tmp_path / "pt")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a"), (3, 30, "b")], "id long, val long, part string"
    )
    lh.create(spark, path, df, key="id", partition_by=["part"])
    lsql.register("pt", path)
    lsql.sql(
        "INSERT INTO pt REPLACE WHERE part = 'a' VALUES (9, 90, 'a')"
    )
    got = sorted((r["id"], r["val"], r["part"]) for r in lh.read(spark, path).collect())
    assert got == [(3, 30, "b"), (9, 90, "a")]
    # replace_where's own refusal (non-partition predicate) surfaces
    with pytest.raises(ValueError):
        lsql.sql("INSERT INTO pt REPLACE WHERE val > 0 VALUES (1, 1, 'a')")


# -- MERGE -------------------------------------------------------------


def test_merge_subquery_source(env, spark):
    lsql, path = env
    spark.range(100).select(
        F.col("id").cast("long"), (F.col("id") * 10).alias("val")
    ).createOrReplaceTempView("_src_base")
    lsql.sql(
        """MERGE INTO t AS tgt
           USING (SELECT id, val + 5 AS val FROM _src_base WHERE id IN (SELECT id FROM _src_base WHERE id < 3)
                  UNION ALL SELECT 1000 AS id, 1 AS val) AS s
           ON tgt.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *"""
    )
    got = dict(_rows(lh.read(spark, path)))
    assert got[0] == 5 and got[2] == 25 and got[3] == 30 and got[1000] == 1
    assert len(got) == 101


def test_merge_view_source_no_aliases(env, spark):
    lsql, path = env
    spark.createDataFrame([(0, -7), (500, -8)], "id long, val long").createOrReplaceTempView(
        "updates_v"
    )
    lsql.sql(
        "MERGE INTO t USING updates_v ON t.id = updates_v.id "
        "WHEN NOT MATCHED THEN INSERT * WHEN MATCHED THEN UPDATE SET *"
    )
    got = dict(_rows(lh.read(spark, path)))
    assert got[0] == -7 and got[500] == -8


def test_merge_lake_table_source(env, spark, tmp_path):
    lsql, path = env
    src_path = str(tmp_path / "src")
    lh.create(
        spark,
        src_path,
        spark.createDataFrame([(7, 77)], "id long, val long"),
        key="id",
    )
    lsql.register("src", src_path)
    lsql.sql(
        "MERGE INTO t USING src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert dict(_rows(lh.read(spark, path)))[7] == 77


# -- SELECT / time travel ---------------------------------------------


def test_select_head_and_alias_qualification(env, spark):
    lsql, _ = env
    assert lsql.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 100
    # alias-less: columns stay qualifiable by the table name
    assert (
        lsql.sql("SELECT t.id FROM t WHERE t.id = 5").collect()[0]["id"] == 5
    )
    # user alias preserved
    assert (
        lsql.sql("SELECT x.val FROM t x WHERE x.id = 5").collect()[0]["val"]
        == 50
    )


def test_select_lake_name_after_comma_or_unaliased_join(env, spark):
    """A lake table named after a comma, or joined straight after a
    non-lake relation with no alias, is still read from the lake."""
    lsql, _ = env
    spark.range(3).createOrReplaceTempView("u")
    for stmt in (
        "SELECT COUNT(*) AS n FROM u, t",
        "SELECT COUNT(*) AS n FROM u JOIN t USING (id)",
    ):
        n = lsql.sql(stmt).collect()[0]["n"]
        assert n == (300 if "," in stmt else 3), stmt


def test_select_version_as_of(env, spark):
    lsql, path = env
    lsql.sql("DELETE FROM t WHERE id >= 10")  # v2
    assert lsql.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 10
    for stmt in (
        "SELECT COUNT(*) AS n FROM t VERSION AS OF 1",
        "SELECT COUNT(*) AS n FROM t FOR VERSION AS OF 1",
    ):
        assert lsql.sql(stmt).collect()[0]["n"] == 100
    # qualification + alias after time travel
    assert (
        lsql.sql(
            "SELECT t.id FROM t VERSION AS OF 1 WHERE t.id = 99"
        ).collect()[0]["id"]
        == 99
    )
    assert (
        lsql.sql(
            "SELECT o.id FROM t VERSION AS OF 1 AS o WHERE o.id = 99"
        ).collect()[0]["id"]
        == 99
    )


def test_select_version_as_of_ref_and_join_mix(env, spark):
    lsql, path = env
    lh.create_ref(path, "baseline")
    lsql.sql("DELETE FROM t WHERE id >= 10")  # v2
    assert (
        lsql.sql("SELECT COUNT(*) AS n FROM t VERSION AS OF 'baseline'").collect()[0]["n"]
        == 100
    )
    # join head against a tagged snapshot of the same table
    n = lsql.sql(
        """SELECT COUNT(*) AS n
           FROM t JOIN t VERSION AS OF 'baseline' AS old ON t.id = old.id"""
    ).collect()[0]["n"]
    assert n == 10


def test_select_with_cte_and_plain_views_pass_through(env, spark):
    lsql, _ = env
    spark.range(5).createOrReplaceTempView("plain_view")
    n = lsql.sql(
        """WITH cold AS (SELECT id FROM t VERSION AS OF 1 WHERE id < 5)
           SELECT COUNT(*) AS n FROM cold JOIN plain_view ON cold.id = plain_view.id"""
    ).collect()[0]["n"]
    assert n == 5


# -- RESTORE / utilities ----------------------------------------------


def test_restore_to_version_and_ref(env, spark):
    lsql, path = env
    lh.create_ref(path, "good")
    lsql.sql("DELETE FROM t")  # v2
    lsql.sql("RESTORE TABLE t TO VERSION AS OF 1")  # v3
    assert lh.read(spark, path).count() == 100
    lsql.sql("DELETE FROM t WHERE id < 50")  # v4
    lsql.sql("RESTORE TABLE t TO VERSION AS OF 'good'")  # v5
    assert lh.read(spark, path).count() == 100


def test_describe_history_vacuum_optimize(env, spark):
    lsql, path = env
    lsql.sql("DELETE FROM t WHERE id >= 90")
    h = lsql.sql("DESCRIBE HISTORY t").collect()
    assert [r["version"] for r in h] == [1, 2]
    assert h[1]["action"] == "delete" and h[1]["net_rows"] == -10
    v = lsql.sql("OPTIMIZE t").collect()[0]["version"]
    assert v >= 2  # no-op allowed if files already target-sized
    out = lsql.sql("VACUUM t RETAIN 1 VERSIONS").collect()[0]
    assert out["files_deleted"] >= 0
    z = lsql.sql("OPTIMIZE t ZORDER BY (id, val)").collect()[0]
    assert z["statement"] == "OPTIMIZE"


def test_alter_constraint_and_show_partitions(env, spark, tmp_path):
    lsql, path = env
    lsql.sql("ALTER TABLE t ADD CONSTRAINT nonneg CHECK (val >= 0)")
    from lambda_hive_spark.lakehouse import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        lsql.sql("INSERT INTO t VALUES (999, -5)")
    lsql.sql("ALTER TABLE t DROP CONSTRAINT nonneg")
    lsql.sql("INSERT INTO t VALUES (999, -5)")  # now admitted
    assert dict(_rows(lh.read(spark, path)))[999] == -5
    with pytest.raises(ValueError, match="ALTER shape"):
        lsql.sql("ALTER TABLE t RENAME TO t2")

    pt = str(tmp_path / "pt2")
    lh.create(
        spark,
        pt,
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "id long, part string"
        ),
        key="id",
        partition_by=["part"],
    )
    lsql.register("pt2", pt)
    rows = {
        r["part"]: (r["files"], r["rows"])
        for r in lsql.sql("SHOW PARTITIONS pt2").collect()
    }
    assert rows["a"][1] == 2 and rows["b"][1] == 1


def test_catalog_root_resolution(env, spark, tmp_path):
    """Names resolve through a Catalog root when not registered
    explicitly — governed names and ad-hoc paths compose."""
    from lambda_hive_spark.catalog import Catalog
    from lambda_hive_spark.lake_sql import LakeSQL as LS

    _, path = env
    root = str(tmp_path / "catroot")
    Catalog(root).create_table("governed", path)
    lsql = LS(spark, catalog_root=root)
    assert lsql.sql("SELECT COUNT(*) AS n FROM governed").collect()[0]["n"] == 100
    lsql.sql("DELETE FROM governed WHERE id >= 50")
    assert lh.read(spark, path).count() == 50


def test_time_travel_view_preserves_filter_pushdown(env, spark):
    """The snapshot-view indirection must not cost the scan its
    pushdown: a WHERE over a time-traveled lake table still reaches
    the parquet reader as a PushedFilters entry — the 100 TB question
    for the SELECT path."""
    lsql, _ = env
    df = lsql.sql("SELECT id, val FROM t VERSION AS OF 1 WHERE id = 5")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "EqualTo(id,5" in plan, plan


def test_changes_table_function(env, spark):
    """FROM CHANGES(t, v) serves the row-level change feed of one
    tracked commit; untracked commits surface read_changes' own
    refusal."""
    lsql, path = env
    lsql.sql("DELETE FROM t WHERE id >= 90", track_changes=True)  # v2
    rows = lsql.sql(
        "SELECT _change_type, COUNT(*) AS n FROM CHANGES(t, 2) GROUP BY 1"
    ).collect()
    assert {r["_change_type"]: r["n"] for r in rows} == {"delete": 10}
    # compose with an ordinary read in the same statement
    n = lsql.sql(
        "SELECT COUNT(*) AS n FROM CHANGES(t, 2) c JOIN t ON c.id - 80 = t.id"
    ).collect()[0]["n"]
    assert n == 10
    lsql.sql("DELETE FROM t WHERE id >= 80")  # v3 untracked
    with pytest.raises(Exception, match="track"):
        lsql.sql("SELECT * FROM CHANGES(t, 3)")


# -- r10 review regressions -------------------------------------------


def test_cte_shadows_lake_name(env, spark):
    """SQL scoping: a CTE named like a registered lake table wins —
    the rewrite must leave it alone (review: it silently read the
    lake table instead of the CTE)."""
    lsql, _ = env
    spark.range(3).createOrReplaceTempView("other_src")
    n = lsql.sql(
        "WITH t AS (SELECT id FROM other_src) SELECT COUNT(*) AS n FROM t"
    ).collect()[0]["n"]
    assert n == 3  # the CTE's 3 rows, not the lake table's 100
    with pytest.raises(ValueError, match="shadows"):
        lsql.sql(
            "WITH t AS (SELECT 1 AS id) SELECT * FROM t VERSION AS OF 1"
        )


def test_vacuum_retain_zero_refuses(env, spark):
    """RETAIN 0 VERSIONS would delete the head itself — refused at
    both layers (review: it destroyed the whole table)."""
    lsql, path = env
    with pytest.raises(ValueError, match="RETAIN 1"):
        lsql.sql("VACUUM t RETAIN 0 VERSIONS")
    with pytest.raises(ValueError, match="keep_last"):
        lh.vacuum(path, keep_last=0)
    assert lh.read(spark, path).count() == 100  # table intact


def test_insert_union_of_parenthesized_selects(env, spark):
    """A parenthesized compound source must survive intact (review:
    everything after the first balanced close-paren was dropped)."""
    lsql, path = env
    lsql.sql(
        "INSERT INTO t (SELECT 500, 1) UNION ALL (SELECT 501, 2)"
    )
    got = dict(_rows(lh.read(spark, path)))
    assert got[500] == 1 and got[501] == 2


def test_catalog_pin_read_and_dml_publish(env, spark, tmp_path):
    """Catalog-resolved SELECTs read the PINNED version (the
    all-or-nothing snapshot contract); DML through a catalog name
    advances the pin so Catalog.read consumers see it (review: reads
    leaked the unpinned head and DML never published)."""
    from lambda_hive_spark.catalog import Catalog
    from lambda_hive_spark.lake_sql import LakeSQL as LS

    _, path = env
    root = str(tmp_path / "catroot2")
    c = Catalog(root)
    c.create_table("gov", path)  # pinned at v1
    lh.delete_where(spark, path, "id >= 50")  # table head moves to v2…
    lsql = LS(spark, catalog_root=root)
    # …but the catalog pin still serves v1 to SQL readers
    assert lsql.sql("SELECT COUNT(*) AS n FROM gov").collect()[0]["n"] == 100
    # DML through the catalog name commits AND publishes the pin
    lsql.sql("DELETE FROM gov WHERE id >= 20")
    assert c.read(spark, "gov").count() == 20
    assert lsql.sql("SELECT COUNT(*) AS n FROM gov").collect()[0]["n"] == 20


def test_show_partitions_empty_table(spark, tmp_path):
    lsql = LakeSQL(spark, {})
    path = str(tmp_path / "ept")
    lh.create(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "id long, part string"),
        key="id",
        partition_by=["part"],
    )
    lsql.register("ept", path)
    lsql.sql("DELETE FROM ept")
    out = lsql.sql("SHOW PARTITIONS ept")
    assert out.columns == ["part", "files", "rows"] and out.count() == 0


def test_select_does_not_leak_temp_views(env, spark):
    """Snapshot views drop after analysis — N statements must not grow
    the session catalog by N views (review: unbounded growth)."""
    lsql, _ = env
    before = {v.name for v in spark.catalog.listTables()}
    for _ in range(3):
        assert lsql.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 100
        lsql.sql("SELECT id FROM t VERSION AS OF 1 WHERE id = 1").collect()
    after = {v.name for v in spark.catalog.listTables()}
    assert not {v for v in after - before if v.startswith("_lake_")}


def test_set_operator_follower_requalifies(env, spark):
    """EXCEPT after a bare lake name is a set operator, not an alias —
    the AS <name> re-qualification must still be emitted (review:
    UNRESOLVED_COLUMN on valid SQL)."""
    lsql, _ = env
    rows = lsql.sql(
        "SELECT t.id FROM t EXCEPT SELECT t.id FROM t WHERE t.id >= 1"
    ).collect()
    assert [r["id"] for r in rows] == [0]


# -- refusal paths -----------------------------------------------------


def test_refusals(env, spark):
    lsql, _ = env
    cases = [
        ("TRUNCATE TABLE t", "unsupported statement"),
        ("CREATE TABLE t2 (id INT)", "unsupported statement"),
        ("INSERT INTO t (id) VALUES (1)", "full table schema"),
        ("INSERT INTO t VALUES (1, 2, 3)", "3 columns"),
        ("INSERT INTO t REPLACE WHERE id < 0", "INSERT shape"),
        ("SELECT * FROM t TIMESTAMP AS OF '2026-01-01'", "TIMESTAMP AS OF"),
        ("SELECT * FROM t VERSION AS OF 1.5", "integer version"),
        ("UPDATE t SET val 1 WHERE id = 0", "SET assignment"),
        ("UPDATE t SET val = 1, val = 2", "assigned twice"),
        (
            "MERGE INTO t USING u ON t.id = u.id "
            "WHEN MATCHED AND t.val > 0 THEN UPDATE SET *",
            "conditional WHEN",
        ),
        (
            "MERGE INTO t USING u ON t.id = u.id "
            "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *",
            "DELETE is unsupported",
        ),
        (
            "MERGE INTO t USING u ON t.id = u.id "
            "WHEN MATCHED THEN UPDATE SET val = u.val "
            "WHEN NOT MATCHED THEN INSERT *",
            "unsupported MERGE clause",
        ),
        (
            "MERGE INTO t USING u ON t.id = u.id "
            "WHEN MATCHED THEN UPDATE SET *",
            "BOTH clauses",
        ),
        (
            "MERGE INTO t USING u ON t.val = u.val "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            "key equality",
        ),
        ("DELETE FROM t WHERE", "DELETE shape"),
    ]
    spark.createDataFrame([(1, 1)], "id long, val long").createOrReplaceTempView("u")
    for stmt, frag in cases:
        with pytest.raises(ValueError) as ei:
            lsql.sql(stmt)
        assert frag.lower() in str(ei.value).lower(), (stmt, str(ei.value))


def test_unknown_table_and_opts_refusals(env, spark):
    lsql, _ = env
    with pytest.raises(KeyError) as ei:
        lsql.sql("DELETE FROM ghost")
    assert "known" in str(ei.value)
    with pytest.raises(KeyError):
        # time travel claims lake semantics: unknown name is an error,
        # not a silent pass-through
        lsql.sql("SELECT * FROM ghost VERSION AS OF 1")
    with pytest.raises(ValueError):
        lsql.sql("SELECT * FROM t", deletion_vectors=True)


def test_select_literal_keywords_are_inert(env, spark):
    lsql, _ = env
    row = lsql.sql(
        "SELECT COUNT(*) AS n FROM t WHERE 'FROM t VERSION AS OF 1' <> ''"
    ).collect()[0]
    assert row["n"] == 100
