"""Contract tests for hier_exact_agg's arithmetic micros path.

Round 5 replaced the per-row double→decimal cast (Double.toString +
BigDecimal, ~150 ns/row) with arithmetic round-half-away in pure
double ops. These tests pin the equivalence contract that change
relies on (helpers.py docstring):

- for nearest-doubles of values with ≤scale decimal digits and
  |x·10^scale| < 2^51 (~2.25e9 value units at scale 6), the long
  micros equal the old decimal-cast result exactly (verified against
  Python's Decimal quantize HALF_UP — the same semantic the Spark
  cast implemented);
- negatives round half AWAY from zero (sign-aware), matching HALF_UP
  decimal semantics;
- NaN / ±Inf / |x·10^scale| ≥ 2^51 collapse to NULL (SUM skips them)
  — the honest exact-arithmetic boundary (round 6 tightened the guard
  from 1e18 micros after the r5 advisor showed doubles between 2^51
  and 1e18 micros can be ULP-off the exact decimal: values there now
  null instead of silently diverging);
- avgs exclude guard-nulled rows from the DENOMINATOR too (round 6:
  previously a nulled value still inflated COUNT, skewing avg low);
- the aggregated double equals dsum's output bit-for-bit on the same
  data (hier_exact_agg advertises "same values as dsum/davg").
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from lambda_hive_spark.helpers import dsum, flat_exact_agg, hier_exact_agg

# Both exact-agg forms share the identical micros contract; every
# contract test runs against each. History (ADVICE r10): the r10
# single-level rewrite was briefly adopted by agg_hash / join_multiway
# and then REVERTED (corpus-sized groups overflow the int64 group
# total at 100 TB — `git show cb260b8:tools/r10_q1_variants.py`);
# flat_exact_agg is the KEY-BOUNDED-GROUPS form, and since r11
# agg_partial_final is its production caller (agg_pivot keeps its
# inline INT-code conditional form: the shared guarded-micros value
# computes once per row there, which the generic helper's per-sum
# expressions would redo 6×).
BOTH = pytest.mark.parametrize("agg", [hier_exact_agg, flat_exact_agg], ids=["hier", "flat"])


_GUARD = 2**51  # micros-domain boundary (helpers.py hier_exact_agg)


def _py_micros(x: float, scale: int = 6) -> int | None:
    """Reference semantics: the old Spark cast — shortest-repr decimal
    of the double, HALF_UP at `scale` — times 10^scale; NULL outside
    the 2^51-micros exact-arithmetic domain."""
    if (
        x is None
        or math.isnan(x)
        or math.isinf(x)
        or abs(x) * 10**scale >= _GUARD
    ):
        return None
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
    return int(q.scaleb(scale))


# Money-class values (≤4 decimal digits), signs, magnitudes, and the
# documented NULL-collapse inputs.
CLEAN = [
    0.0, 0.01, -0.01, 1.0, -1.0, 123.45, -123.45, 0.0001, -0.0001,
    99999.99, -99999.99, 12345678.9012, -12345678.9012,
    2251799813.0,        # just inside the 2^51-micros domain (2251799813685248 micros is the bound)
    0.1 + 0.2,           # 0.30000000000000004 — repr carries 17 digits but quantizes cleanly
]
NULLING = [
    float("nan"), float("inf"), float("-inf"),
    1e12, -1e12, 2.5e15,
    # The r5 advisor's poisoned range: between 2^51 and 1e18 micros the
    # double product can be ULP-off the exact decimal (this value's
    # ×1e6 product is NOT exactly representable), so the guard must
    # null it rather than emit a silently-divergent long.
    999999999997.0003, -999999999997.0003,
    2251799813.685249,  # just past the boundary
]


@BOTH
def test_micros_match_decimal_cast_semantics(spark, agg):
    rows = [(i, v) for i, v in enumerate(CLEAN)]
    df = spark.createDataFrame(rows, "id long, x double")
    out = agg(df, ["id"], sums=[("s", "x")]).orderBy("id").collect()
    for (i, v), r in zip(rows, out):
        expect = _py_micros(v)
        got = None if r["s"] is None else round(r["s"] * 10**6)
        assert got == expect, f"x={v!r}: micros {got} != decimal-cast {expect}"


@BOTH
def test_nulling_inputs_collapse_like_decimal_cast(spark, agg):
    rows = [(i, v) for i, v in enumerate(NULLING)]
    df = spark.createDataFrame(rows, "id long, x double")
    out = agg(df, ["id"], sums=[("s", "x")]).orderBy("id").collect()
    for (_, v), r in zip(rows, out):
        assert r["s"] is None, f"x={v!r} must collapse to NULL (old cast nulled it)"


@BOTH
def test_negative_half_rounds_away_from_zero(spark, agg):
    # ±0.1234565 is NOT exactly representable, so no true tie exists —
    # but its nearest double's shortest repr ends in ...65 at scale 7;
    # at scale 6 both the decimal cast and the arithmetic path must
    # agree on every sign. Use values whose repr terminates at scale 6
    # for the exact assertion.
    vals = [2.000001, -2.000001, 5.5, -5.5, 7.000004, -7.000004]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, x double")
    out = agg(df, ["id"], sums=[("s", "x")]).orderBy("id").collect()
    for (_, v), r in zip(rows, out):
        assert round(r["s"] * 10**6) == _py_micros(v)
        assert (r["s"] < 0) == (v < 0)


@BOTH
def test_agg_equals_dsum_bitwise(spark, agg):
    # 4-decimal products at sf-like magnitudes, mixed signs, many rows
    # per group — the aggregated double must equal dsum's bit-for-bit.
    rows = [
        (i % 7, round((i * 37 % 1000) + (i * 13 % 100) / 100.0, 4) * (1 if i % 3 else -1))
        for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "k long, x double").repartition(8)
    fast = {
        r["k"]: r["s"]
        for r in agg(df, ["k"], sums=[("s", "x")]).collect()
    }
    ref = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(dsum("x").alias("s")).collect()
    }
    assert fast == ref


@BOTH
def test_avg_and_count_star_contract(spark, agg):
    rows = [(1, 2.5), (1, None), (1, 3.5), (2, None)]
    df = spark.createDataFrame(rows, "k long, x double")
    out = {
        r["k"]: (r["a"], r["n"])
        for r in agg(
            df, ["k"], avgs=[("a", "x")], count_star="n"
        ).collect()
    }
    # avg divides by COUNT(x) (non-null), count_star counts all rows.
    assert out[1] == (3.0, 3)
    assert out[2] == (None, 1)


@BOTH
def test_avg_excludes_guard_nulled_from_denominator(spark, agg):
    # r5 advisor: a value nulled by the micros guard (NaN/Inf/out-of-
    # domain) must not inflate the avg denominator. (2+4)/2, not /4.
    rows = [(1, 2.0), (1, 4.0), (1, float("inf")), (1, 1e13)]
    df = spark.createDataFrame(rows, "k long, x double")
    out = agg(df, ["k"], avgs=[("a", "x")]).collect()
    assert out[0]["a"] == 3.0


def test_flat_dedups_shared_avg_count_accumulator(spark):
    """ADVICE r10: two avgs over the SAME source expression must share
    one COUNT accumulator (keyed on the expr, like the micros dedup) —
    and of course emit identical values."""
    rows = [(i % 3, round(i * 0.37, 2)) for i in range(99)]
    df = spark.createDataFrame(rows, "k long, x double")
    flat = flat_exact_agg(df, ["k"], avgs=[("a1", "x"), ("a2", "x")])
    plan = flat._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("try_sum") == 1, plan
    assert plan.count("count(CASE WHEN") == 1, plan
    for r in flat.collect():
        assert r["a1"] == r["a2"]


@BOTH
def test_internal_aliases_do_not_collide_with_caller_columns(spark, agg):
    """ADVICE r10: generated aliases are __lhs_-prefixed so a caller
    column literally named _m0 / _c0 / _pid cannot be captured by the
    helper's groupBy/select name resolution."""
    rows = [(1, 2.0, 7.0), (1, 4.0, 8.0)]
    df = spark.createDataFrame(rows, "_m0 long, x double, _pid double")
    out = agg(df, ["_m0"], sums=[("s", "x")], avgs=[("a", "_pid")]).collect()
    assert out[0]["s"] == 6.0 and out[0]["a"] == 7.5


def test_flat_dedups_shared_sum_avg_accumulator(spark):
    """flat_exact_agg's dedup: a column used by BOTH a sum and an avg
    accumulates ONE long total (the Q1 l_quantity shape). The plan
    must carry exactly as many try_sum buffers as DISTINCT source
    expressions, and the outputs must still match hier_exact_agg
    bit-for-bit."""
    rows = [(i % 3, round(i * 0.37, 2)) for i in range(999)]
    df = spark.createDataFrame(rows, "k long, x double")
    flat = flat_exact_agg(
        df, ["k"], sums=[("s", "x")], avgs=[("a", "x")], count_star="n"
    )
    plan = flat._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("try_sum") == 1, plan
    hier = hier_exact_agg(
        df, ["k"], sums=[("s", "x")], avgs=[("a", "x")], count_star="n"
    )
    f = sorted(map(tuple, flat.collect()))
    h = sorted(map(tuple, hier.collect()))
    assert f == h
