"""Float-parity helpers (SURVEY.md §5.1 rule 1, strengthened).

Problem: `sum(double)` is order-dependent; Spark (parallel partial
aggregation) and DuckDB (its own order) accumulate differently. At
sf0.01 the big money sums reach ~1e9, where accumulated ulp noise can
exceed the `round(x, 4)` granularity — rounding alone does NOT
guarantee hash-parity.

Fix: sum through DECIMAL. `CAST(x AS DECIMAL(p, s))` rounds the
identical IEEE double to the identical decimal on both engines (no
halfway ties exist: no double is exactly *.5e-s) and decimal addition
is exact and order-independent, so both engines hold the same exact
total at any parallelism — the right 100 TB answer too. The final
`CAST(... AS DOUBLE)` is nearest-double on Spark, but DuckDB 1.0.0's
decimal→double cast is not correctly rounded past about 9e9 value
units (a quarter or more of such totals land 1 ulp off): results are
bit-identical on both engines only below that bound. ROADMAP
direction 2 is the fix, in `sql_dbl`.

Per-row arithmetic (e.g. `l_extendedprice*(1-l_discount)`) is safe in
double: both engines execute the same IEEE ops on the same inputs.
Only ACCUMULATION across rows needs the decimal detour.

This module is the only place an exact sum is spelled. Builders come
in pairs, a PySpark Column form and a SQL-text form generated from the
same parameters so the two sides cannot drift: `dec` (per-row decimal
cast), `dbl` (final cast to double), and `dsum`/`davg` built on them.
The long-micros path (`sql_micros`, `sql_micros_emit`) is Spark SQL
text for `F.expr`.

One non-numeric primitive lives here too: `sorted_pairs`, the only
"all i<j pairs of a sorted array" expansion in the operator layer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 18 digits total (scale 6 → 12 integer digits, values to 1e12): the
# per-row cast stays within Spark's compact-long decimal range, which
# is measurably faster than 128-bit decimal (0.81 s vs 0.94 s on the
# sf0.1 flagship agg). The SUM accumulator is auto-widened by both
# engines (Spark decimal(28,6), DuckDB decimal(38,6)) — still exact and
# order-independent to ~1e22, ample for 100 TB sums of 1e6-magnitude
# money values.
_PREC = 18


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: Column | str, scale: int = 6, *, prec: int = _PREC) -> Column:
    """Per-row cast to DECIMAL(prec, scale) for exact accumulation."""
    return _c(col).cast(f"decimal({prec},{scale})")


def sql_dec(expr: str, scale: int = 6, *, prec: int = _PREC) -> str:
    return f"CAST({expr} AS DECIMAL({prec},{scale}))"


def dbl(col: Column) -> Column:
    """Final cast of an exact decimal total to double."""
    return col.cast("double")


def sql_dbl(expr: str) -> str:
    return f"CAST({expr} AS DOUBLE)"


def dsum(col: Column | str, scale: int = 6, *, prec: int = _PREC, over=None,
         distinct: bool = False) -> Column:
    """Order-independent exact sum of a double column → double. `over`
    (a WindowSpec) frames the SUM itself, inside the final cast;
    `distinct` sums each distinct decimal once."""
    total = (F.sum_distinct if distinct else F.sum)(dec(col, scale, prec=prec))
    return dbl(total if over is None else total.over(over))


def sql_dsum(expr: str, scale: int = 6, *, prec: int = _PREC, over: str | None = None,
             where: str | None = None, distinct: bool = False) -> str:
    """SQL twin of `dsum`. `over` is a window name or a parenthesized
    spec; `where` is the aggregate's FILTER predicate."""
    total = f"SUM({'DISTINCT ' if distinct else ''}{sql_dec(expr, scale, prec=prec)})"
    if where is not None:
        total += f" FILTER (WHERE {where})"
    if over is not None:
        total += f" OVER {over}"
    return sql_dbl(total)


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent avg: exact decimal sum / exact count, divided
    in double (identical IEEE division on both engines)."""
    return dsum(col, scale) / F.count(_c(col))


def sql_davg(expr: str, scale: int = 6) -> str:
    return f"({sql_dsum(expr, scale)} / COUNT({expr}))"


def r4(col: Column) -> Column:
    """Display rounding — for ROWS-ONLY ops. Never use in a sql-oracle
    op: Spark rounds the double's shortest decimal repr (BigDecimal
    HALF_UP) while DuckDB rounds the binary value (x*1e4 → rint), so
    identical inputs can round differently whenever the shortest repr
    terminates in a half at the target scale (common with 2-decimal
    money data: observed spark=101226.8121 vs duckdb=101226.812).
    Oracle-checked ops instead emit either raw per-row doubles
    (bit-identical IEEE ops) or decimal-exact aggregates (above) —
    both hash-match without any rounding."""
    return F.round(col, 4)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float> columns: element products in
    double, accumulated strictly left-to-right (F.aggregate is a left
    fold) — bit-identical to the DuckDB mirror below. Stays fully
    JVM-side (higher-order functions, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB mirror of `dot`: same element-wise double products, same
    left-to-right fold via list_reduce → bit-identical doubles."""
    prods = (
        f"list_transform(range(1, len({a})+1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )
    return f"list_reduce({prods}, (acc, x) -> acc + x)"


# 2^51: the largest micros magnitude where the double product is
# provably within 0.5 of the exact integer (see hier_exact_agg's
# docstring for the derivation and the out-of-domain NULL contract).
MICROS_GUARD = "2251799813685248.0D"


def _micros_product(expr: str, scale: int) -> str:
    return f"(CAST(({expr}) AS DOUBLE) * {10**scale}.0D)"


def sql_micros(expr: str, scale: int = 6) -> str:
    """Guarded long micros of one money value (Spark SQL):
    round-half-away(x·10^scale) as BIGINT, NULL outside the 2^51
    exact-arithmetic domain."""
    m = _micros_product(expr, scale)
    half_away = f"CAST(SIGN({m}) * FLOOR(ABS({m}) + 0.5D) AS BIGINT)"
    return f"CASE WHEN ABS({m}) < {MICROS_GUARD} THEN {half_away} END"


def sql_micros_count(expr: str, scale: int = 6) -> str:
    """Denominator twin of `sql_micros`: count exactly the rows the
    guard admits, so guard-nulled rows don't skew an avg low."""
    return f"COUNT(CASE WHEN ABS({_micros_product(expr, scale)}) < {MICROS_GUARD} THEN 1 END)"


def sql_micros_emit(micros: str, scale: int = 6, *, merge: bool = False) -> str:
    """A long micros total back to value units (Spark SQL): one exact
    decimal division, nearest-double emit — the same double `dsum`
    emits on the same data. `merge=True` first sums per-partition
    partials exactly in DECIMAL(38,0) (hier_exact_agg's final level)."""
    total = sql_dec(micros, 0, prec=38)
    if merge:
        total = f"SUM({total})"
    return sql_dbl(f"{total} / CAST({10**scale} AS DECIMAL(7,0))")


def flat_exact_agg(
    df,
    keys: list[str],
    sums: list[tuple[str, str]] = (),
    avgs: list[tuple[str, str]] = (),
    count_star: str | None = None,
    scale: int = 6,
):
    """SINGLE-level exact grouped aggregation — same bit-identical
    doubles as hier_exact_agg/dsum, one fewer aggregate pass and one
    fewer Exchange: Catalyst's own partial/final BIGINT sum does the
    map-side combine on the bare group key, so the plan is
    scan → partial agg → ONE exchange → final agg (the r8
    agg_partial_final/agg_pivot rewrite, generalized to multi-sum/avg
    shapes — measured 1.33×/1.47× over the two-level form at the 100×
    tier there).

    PRECONDITION — KEY-BOUNDED GROUPS ONLY. The long total here is per
    GROUP, so a group whose row count grows with the corpus (Q1's six
    (returnflag, linestatus) groups, a per-(region, nation) rollup)
    overflows 2^63 micros at large corpus sizes: Q1's groups reach 31%
    of the bound already at the local 1000× tier and overflow ~300× at
    100 TB (r10 adjudication, tools/r10_q1_variants.py — measured
    1.67× faster locally and still rejected). try_sum keeps the
    failure visible (NULL, never a wrap), but an op that NULLs at
    target scale is the wrong design: use hier_exact_agg (partition-
    bounded partials, unbounded decimal merge) for corpus-sized
    groups. agg_partial_final (per-suppkey) and agg_pivot (per-user)
    are the key-bounded shapes this form is for.

    vs hier_exact_agg this additionally DEDUPLICATES source
    expressions: a column used by both a sum and an avg (e.g. Q1's
    l_quantity) accumulates ONE long total instead of two — the
    two-level form materialized `_m_sum_qty` and `_m_avg_qty`
    separately, paying the guarded-micros expression twice per row.

    Exactness: identical contract to hier_exact_agg (per-row
    half-away long micros under the 2^51 guard, one decimal division
    at emit → the same nearest-double as sql_dsum). The long total is
    per GROUP rather than per (group, partition): bound 2^63 micros ≈
    9.2e12 value units, FAIL-VISIBLE via try_sum (an overflowing
    group emits NULL and hash-mismatches any oracle, never wraps).
    For genuinely unbounded heavy-hitter keys, hier_exact_agg's
    per-partition partials + unbounded decimal merge remain the
    fallback — that is the one reason to keep the two-level form.

    avgs divide the shared micros total by the count of guard-admitted
    rows (COUNT of the same CASE the sum admits) — exactly
    hier_exact_agg's count denominator, so NaN/Inf/out-of-domain rows
    drop from numerator and denominator alike. The count accumulator
    is ALSO keyed on the source expression (ADVICE r10): two avgs over
    the same expr share one COUNT buffer, consistent with the micros
    dedup.

    Internal aliases are `__lhs_`-prefixed (ADVICE r10: the old bare
    `_m0`/`_c0` could collide with caller columns since groupBy/select
    resolve by name)."""
    aggs: list = []
    finals: list[str] = []
    shared: dict[str, str] = {}  # source expr -> micros-total alias
    shared_counts: dict[str, str] = {}  # source expr -> guard-count alias

    def _m_alias(expr: str) -> str:
        if expr not in shared:
            alias = f"__lhs_m{len(shared)}"
            shared[expr] = alias
            aggs.append(F.expr(f"try_sum({sql_micros(expr, scale)}) AS {alias}"))
        return shared[expr]

    def _c_alias(expr: str) -> str:
        if expr not in shared_counts:
            alias = f"__lhs_c{len(shared_counts)}"
            shared_counts[expr] = alias
            aggs.append(F.expr(f"{sql_micros_count(expr, scale)} AS {alias}"))
        return shared_counts[expr]

    for name, expr in sums:
        finals.append(f"{sql_micros_emit(_m_alias(expr), scale)} AS {name}")
    for name, expr in avgs:
        finals.append(f"({sql_micros_emit(_m_alias(expr), scale)} / {_c_alias(expr)}) AS {name}")
    if count_star is not None:
        aggs.append(F.expr(f"COUNT(*) AS {count_star}"))
        finals.append(count_star)
    return df.groupBy(*keys).agg(*aggs).select(*keys, *[F.expr(e) for e in finals])


def hier_exact_agg(
    df,
    keys: list[str],
    sums: list[tuple[str, str]] = (),
    avgs: list[tuple[str, str]] = (),
    count_star: str | None = None,
    scale: int = 6,
):
    """Two-level exact grouped aggregation — same values as dsum/davg,
    measured ~1.5× faster on the sf0.1 flagship (0.93 s vs 1.38 s for
    4 sums): the per-row hot loop accumulates LONG "micros"
    (value·10^scale as int64) per input partition, and only the tiny
    per-(group, partition) partials go through the decimal-exact merge.
    Decimal sum's 128-bit accumulator updates leave the hot path; the
    emitted double is the nearest double of the exact decimal sum —
    bit-identical to dsum's output, so oracles keep using sql_dsum/
    sql_davg unchanged.

    Exactness at 100 TB: a long partial overflows only if ONE input
    partition's sum exceeds 9.2e18 micros (9.2e12 in value units) —
    with 128 MB scan partitions and 1e4-magnitude money values that
    needs ~1e8 rows in a single partition, orders beyond any sane
    partition sizing; the decimal merge level is unbounded (~1e22).
    The partial grouping key includes spark_partition_id(), so the
    merge input is one row per (group, partition) — shuffle payload is
    unchanged vs the partial-aggregation Catalyst already plans.

    `avgs` divide by the count of rows the micros guard admitted —
    for in-contract data that IS the non-null count (COUNT(expr),
    mirroring sql_davg exactly); guard-nulled rows (NaN/Inf/out-of-
    domain) are excluded from numerator and denominator alike.

    Per-row micros are ARITHMETIC, not a decimal cast: Spark's
    double→decimal cast routes through Double.toString + BigDecimal
    per row (~150 ns), which made the cast itself the scan bottleneck
    (the sf0.1 single-file flagship scan is one task). For the data
    class this helper is documented for — nearest-doubles of values
    with ≤`scale` decimal digits AND |x·10^scale| < 2^51 (~2.25e9 in
    value units at scale 6) — `x·10^scale` lands within ≪0.5 of the
    exact integer (error k·2^-52 < 0.5 only while the integer part
    k < 2^51), so round-half-away(x·10^scale) in pure double ops
    yields the IDENTICAL long the decimal cast produced, ~30× cheaper.
    Above 2^51 micros the double product (and FLOOR past 2^53) can be
    ULP-off the exact decimal, so the CASE guard NULLS those rows
    outright — out-of-domain values collapse to NULL rather than
    silently diverging (same observable behavior as NaN/±Inf, and as
    the old decimal(18,s) cast's overflow-null, just at the honest
    boundary). Avgs exclude guard-nulled rows from BOTH the sum and
    the count, mirroring how AVG(decimal) skips cast-nulled values.
    Full-precision doubles (7+ significant decimals at the target
    scale) are OUTSIDE this helper's contract (both engines' decimal
    casts already diverge there — see the stats.py module doc); use
    dsum for those, and for |x| beyond the 2^51-micros domain.

    `sums`/`avgs` take SQL STRING expressions (not Columns): each
    partial/final is then a single F.expr py4j call, vs ~10 Column-API
    round-trips each — measured 220 ms → ~40 ms of driver-side plan
    construction on the flagship (7 aggregates). On a sub-second query
    that build time was a third of the wall clock.
    """
    partials, finals = [], []
    # r10: one long-micros partial per DISTINCT source expression — a
    # column used by both a sum and an avg (Q1's l_quantity,
    # l_extendedprice) previously accumulated twice; sharing the
    # partial drops Q1 from 7 to 5 micros accumulators in the per-row
    # hot loop. Values are unchanged by construction (the merge sums
    # the identical partial column).
    shared: dict[str, str] = {}

    def _m_col(expr: str) -> str:
        if expr not in shared:
            alias = f"__lhs_m{len(shared)}"
            shared[expr] = alias
            partials.append(F.expr(f"SUM({sql_micros(expr, scale)}) AS {alias}"))
        return shared[expr]

    # Internal aliases are `__lhs_`-prefixed (ADVICE r10: bare _m0/_pid
    # could collide with caller column names); all are dropped by the
    # final-level groupBy, so outputs are unchanged.
    for name, expr in sums:
        finals.append(F.expr(f"{sql_micros_emit(_m_col(expr), scale, merge=True)} AS {name}"))
    for name, expr in avgs:
        alias = _m_col(expr)
        partials.append(F.expr(f"{sql_micros_count(expr, scale)} AS __lhs_c_{name}"))
        finals.append(
            F.expr(f"{sql_micros_emit(alias, scale, merge=True)} / SUM(__lhs_c_{name}) AS {name}")
        )
    if count_star is not None:
        partials.append(F.expr("COUNT(*) AS __lhs_n"))
        finals.append(F.expr(f"SUM(__lhs_n) AS {count_star}"))
    return (
        df.groupBy(*keys, F.expr("spark_partition_id() AS __lhs_pid"))
        .agg(*partials)
        .groupBy(*keys)
        .agg(*finals)
    )


def sorted_pairs(df: DataFrame, ids: str, a: str, b: str) -> DataFrame:
    """Every i<j pair of each row's `ids` array, as columns `a`, `b`
    (empty and null arrays yield no rows). Two chained Generates:
    posexplode picks each anchor at 0-based i, then explode walks the
    1-based slice from i+2 — exactly the elements after the anchor.
    Both run in codegen; the nested transform+flatten form builds each
    row's whole pair array in the interpreted HOF evaluator first
    (measured 1.09–1.31× slower on dedup_ngram_jaccard at 10×)."""
    i = F.col("__lhs_i")
    anchors = df.select(ids, F.posexplode(ids).alias("__lhs_i", a))
    return anchors.select(
        a, F.explode(F.slice(ids, i + F.lit(2), F.size(ids) - i - 1)).alias(b)
    )
