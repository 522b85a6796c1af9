"""The exact-sum builders in helpers.py emit, character for character,
the text the operator sites used to spell out by hand.

Every oracle and every Spark-side SQL string that sums exactly now
comes from these builders, so a builder that drifts would silently
change oracle text (and the op fingerprints the grading manifest keys
on). The SQL table below is JVM-free: each row pins one keyword form
to the literal a hand-written site produced. The Column table pins the
Spark forms to the expression tree the sites built with the Column API.
"""

from __future__ import annotations

import pytest

from lambda_hive_spark.helpers import (
    sql_davg,
    sql_dbl,
    sql_dec,
    sql_dsum,
    sql_micros,
    sql_micros_emit,
)

_M = "(CAST((value) AS DOUBLE) * 1000000.0D)"

SQL_CASES = [
    # (site, built, hand-written literal)
    ("aggregates default", sql_dsum("l_quantity"),
     "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)"),
    ("windows OVER w, 38", sql_dsum("value", prec=38, over="w"),
     "CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)"),
    ("windows OVER spec", sql_dsum("o_totalprice", over="(PARTITION BY o_custkey)"),
     "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey) AS DOUBLE)"),
    ("misc_agg FILTER", sql_dsum("l_extendedprice", where="l_discount > 0.05"),
     "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))"
     " FILTER (WHERE l_discount > 0.05) AS DOUBLE)"),
    ("advagg DISTINCT", sql_dsum("l_quantity", prec=38, distinct=True),
     "CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)"),
    ("misc_agg scale 4", sql_dsum("l_quantity * l_extendedprice", 4),
     "CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)"),
    ("quality scale 8", sql_dsum("logp", 8),
     "CAST(SUM(CAST(logp AS DECIMAL(18,8))) AS DOUBLE)"),
    ("stats scale 12", sql_dsum("(o - e) * (o - e) / e", 12),
     "CAST(SUM(CAST((o - e) * (o - e) / e AS DECIMAL(18,12))) AS DOUBLE)"),
    ("llm scale 12, 38", sql_dsum("CAST(e.embedding[t.pos] AS DOUBLE)", 12, prec=38),
     "CAST(SUM(CAST(CAST(e.embedding[t.pos] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)"),
    ("llm scale 15", sql_dsum("d", 15),
     "CAST(SUM(CAST(d AS DECIMAL(18,15))) AS DOUBLE)"),
    ("tpch_full davg", sql_davg("c2.c_acctbal"),
     "(CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(c2.c_acctbal))"),
    ("tpch_full HAVING", f"SUM({sql_dec('l_quantity')})",
     "SUM(CAST(l_quantity AS DECIMAL(18,6)))"),
    ("agg_pivot oracle cell",
     sql_dbl(f"SUM(CASE WHEN event_type = 'click' THEN {sql_dec('value', prec=38)} END)"),
     "CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)"),
    ("agg_pivot guarded micros", sql_micros("value"),
     f"CASE WHEN ABS({_M}) < 2251799813685248.0D"
     f" THEN CAST(SIGN({_M}) * FLOOR(ABS({_M}) + 0.5D) AS BIGINT) END"),
    ("agg_pivot / flat emit", sql_micros_emit("_m0"),
     "CAST(CAST(_m0 AS DECIMAL(38,0)) / CAST(1000000 AS DECIMAL(7,0)) AS DOUBLE)"),
    ("hier merge emit", sql_micros_emit("__lhs_m0", merge=True),
     "CAST(SUM(CAST(__lhs_m0 AS DECIMAL(38,0))) / CAST(1000000 AS DECIMAL(7,0)) AS DOUBLE)"),
]


@pytest.mark.parametrize(
    "built, literal", [c[1:] for c in SQL_CASES], ids=[c[0] for c in SQL_CASES]
)
def test_sql_builder_emits_hand_written_text(built, literal):
    assert built == literal


def test_column_builders_build_hand_written_trees(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lambda_hive_spark.helpers import dbl, dec, dsum

    w = Window.partitionBy("k").orderBy("t")
    v = F.col("v")
    cases = [
        (dsum("v"), F.sum(v.cast("decimal(18,6)")).cast("double")),
        (dsum(v * v, 4), F.sum((v * v).cast("decimal(18,4)")).cast("double")),
        (dsum("v", prec=38, over=w), F.sum(v.cast("decimal(38,6)")).over(w).cast("double")),
        (dsum("v", prec=38, distinct=True), F.sum_distinct(v.cast("decimal(38,6)")).cast("double")),
        (dsum("v", 15), F.sum(v.cast("decimal(18,15)")).cast("double")),
        (dbl(F.sum(dec("v"))), F.sum(v.cast("decimal(18,6)")).cast("double")),
    ]
    for built, hand in cases:
        assert str(built) == str(hand)
