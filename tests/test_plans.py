"""Plan-shape assertions (SURVEY.md §4/§5.2): the 100 TB claims —
pushdown, pruning, top-k, partial aggregation — must be visible in the
physical plan, not just believed."""

from __future__ import annotations

import pytest

from lambda_hive_spark.registry import all_ops
from tests.conftest import SF_DIR

OPS = all_ops()


@pytest.fixture(autouse=True)
def _fresh_plans(monkeypatch):
    """Bypass the registry plan cache: these tests assert on the
    compile-time plan, but a cached DataFrame another test already
    EXECUTED shows its AQE-final plan (isFinalPlan=true — exchanges
    reused/renumbered), making assertions order-dependent."""
    from collections import OrderedDict

    from lambda_hive_spark import registry

    monkeypatch.setattr(registry, "_PLAN_CACHE", OrderedDict())
    monkeypatch.setattr(registry, "_PLAN_CACHE_SIZE", 0)


def _plan(spark, name: str) -> str:
    return OPS[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "scan_filtered")
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual" in plan or "GreaterThanOrEqual" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "scan_projected")
    # ReadSchema must contain only the 3 selected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_flagship_partial_final_agg(spark):
    plan = _plan(spark, "agg_hash")
    assert "partial_" in plan, "map-side partial aggregation missing"
    assert "HashAggregate" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "topk")
    assert "TakeOrderedAndProject" in plan, "top-k should not plan a full sort"


def test_broadcast_join_planned(spark):
    plan = _plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_multiway_join_broadcasts_dims(spark):
    plan = _plan(spark, "join_multiway")
    assert plan.count("BroadcastHashJoin") >= 2, "region+nation should broadcast"


def test_whole_stage_codegen(spark):
    # starred stages ("*(n) Project ...") mark whole-stage codegen spans
    plan = _plan(spark, "project_compute")
    assert "*(" in plan


def test_correlated_exists_becomes_semi_join(spark):
    plan = _plan(spark, "subq_exists_corr")
    assert "SemiBuildRight" in plan or "LeftSemi" in plan, "EXISTS not decorrelated to semi join"


def test_partitioned_sink_prunes(spark):
    plan = _plan(spark, "sink_partitioned")
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "event_date" in part_lines[0], "date filter not pushed to partitions"


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed+sorted on the join key: SMJ and the
    follow-on groupBy must run with zero shuffles."""
    plan = _plan(spark, "join_bucket_colocated")
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 0, "bucketed join should not shuffle"


def test_topk_per_group_plans_window_group_limit(spark):
    """rank-filter pattern: Spark 3.5+ prunes per-group rows before the
    full window sort via WindowGroupLimit."""
    plan = _plan(spark, "win_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_q6_pushes_all_predicates(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed"


def test_q5_broadcasts_pruned_dims(spark):
    """Q5's region-filtered supplier/nation side must broadcast, and
    the date filter must reach the orders scan."""
    plan = _plan(spark, "tpch_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan or "GreaterThanOrEqual(o_orderdate" in plan


def test_q4_exists_plans_semi_join(spark):
    plan = _plan(spark, "tpch_q4_priority_check")
    assert "LeftSemi" in plan


def test_q21_plans_semi_then_anti(spark):
    plan = _plan(spark, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q18_aggregates_before_semi_join(spark):
    """The HAVING side must aggregate lineitem BEFORE the semi join —
    the plan has a HashAggregate feeding the semi join's build side."""
    plan = _plan(spark, "tpch_q18_large_volume")
    assert "LeftSemi" in plan
    assert "partial_" in plan


def test_map_only_pipeline_ops_have_no_shuffle(spark):
    """The deterministic split / scrub / mix ops are pure per-row
    projections: no Exchange may appear in their plans (at 100 TB a
    spurious shuffle here would move the whole corpus)."""
    for name in ("pipeline_train_test_split", "pipeline_pii_scrub", "pipeline_domain_mix"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} plans a shuffle"


def test_contamination_broadcasts_eval_side(spark):
    plan = _plan(spark, "pipeline_contamination")
    assert "BroadcastHashJoin" in plan


def test_cdc_latest_plans_window_group_limit(spark):
    """rn=1 over (key ORDER BY ms DESC) must rewrite to WindowGroupLimit
    (running-max per partition, no full group sort) with ONE exchange."""
    plan = _plan(spark, "cdc_latest_snapshot")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") == 1


def test_scd2_shares_one_shuffle_for_lag_and_lead(spark):
    """lag (change detect) and lead (interval close) sort on the same
    (user_id, ms, event_id) key — Catalyst must reuse a single exchange."""
    plan = _plan(spark, "scd2_dimension")
    assert plan.count("Exchange") == 1


def test_unpivot_is_single_scan_expand(spark):
    """Native unpivot = one Expand over ONE scan (vs the oracle's 4
    UNION'd scans), with the returnflag filter pushed into the scan."""
    plan = _plan(spark, "unpivot_long")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 0
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_returnflag" in pushed


def test_profile_columns_is_single_scan(spark):
    """All 20 profile aggregates (incl. 4 count-distincts via Expand)
    must compute in one pass over lineitem."""
    plan = _plan(spark, "profile_columns")
    assert plan.count("FileScan") == 1
    assert "Expand" in plan


def test_heavy_hitters_takes_ordered_and_broadcasts_total(spark):
    """Top-20 must be TakeOrdered (no global sort); the grand total must
    join back as a broadcast, not shuffle the counts."""
    plan = _plan(spark, "profile_heavy_hitters")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_chunking_is_map_only(spark):
    """doc_chunk_sliding must be explode-in-scan: zero exchanges."""
    plan = _plan(spark, "doc_chunk_sliding")
    assert "Exchange" not in plan, "chunking should not shuffle"
    assert "Generate explode" in plan


def test_countmin_sketch_aggregates_map_side(spark):
    """CMS build must plan partial aggregation (fixed-size combine
    state) and broadcast the sketch to the probe side."""
    plan = _plan(spark, "sketch_countmin")
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan


def test_rp_lsh_has_no_cartesian(spark):
    """Banded LSH must candidate via equi-joins, never all-pairs."""
    plan = _plan(spark, "sim_pairs_rp_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_broadcasts_dimension_chain(spark):
    """Q2's supplier->nation->region chain and per-part min table must
    broadcast against the lineitem-derived partsupp proxy."""
    plan = _plan(spark, "tpch_q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 3


def test_ema_plans_single_window_pass(spark):
    """All 20 lag() terms share one window spec: exactly one Window
    operator, one sort, one shuffle on the partition key."""
    plan = _plan(spark, "ts_ema")
    assert plan.count("Window ") + plan.count("Window\n") >= 1
    assert plan.count("Exchange") == 1, "EMA must shuffle once on user_id"


def test_unigram_lm_joins_vocabulary_broadcast(spark):
    plan = _plan(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan


def test_domain_cap_plans_group_limit(spark):
    """The per-source top-K must early-exit via WindowGroupLimit, not
    materialize a full per-source sort of the corpus."""
    plan = _plan(spark, "pipeline_domain_cap")
    assert "WindowGroupLimit" in plan
    assert "text" not in plan.split("ReadSchema")[-1], "cap must not scan text"


def test_mode_tiebreak_plans_group_limit_and_partial_agg(spark):
    """rank-1 filter over counts: partial aggregation before the
    shuffle and WindowGroupLimit above it."""
    plan = _plan(spark, "agg_mode_tiebreak")
    assert "partial_" in plan
    assert "WindowGroupLimit" in plan


def test_interpolation_windows_share_one_exchange(spark):
    """Both bracketing windows partition on user_id: after the grid
    join there must be no extra exchange between the Window nodes."""
    plan = _plan(spark, "ts_interpolate_linear")
    windows = plan.count("Window ") + plan.count("Window\n")
    assert windows >= 2
    between = plan.split("Window")[1]
    assert "Exchange" not in between, "second window must reuse the first's partitioning"


def test_weighted_median_reduces_before_window(spark):
    """The cumulative-weight window must run over the (flag, price)
    pre-aggregate — a HashAggregate must appear below the Window."""
    plan = _plan(spark, "agg_weighted")
    win_pos = plan.find("Window")
    assert win_pos > 0
    assert "HashAggregate" in plan[win_pos:], "window input must be the pre-aggregate"


def test_url_and_clean_are_map_only(spark):
    """Per-row string kernels: zero exchanges in either plan."""
    for op_name in ("fn_url", "text_clean_normalize", "fn_safe_arith", "fn_struct"):
        plan = _plan(spark, op_name)
        assert "Exchange" not in plan, f"{op_name} should not shuffle"


def test_cluster_by_produces_disjoint_ts_ranges(spark):
    """After repartitionByRange+sort, per-file ts ranges must be
    pairwise disjoint — the property parquet min/max skipping needs."""
    from lambda_hive_spark.registry import all_ops
    from lambda_hive_spark.scratch import named as _scratch
    import os

    all_ops()["maintenance_cluster_by"].fn(spark, SF_DIR).collect()
    clustered = _scratch(f"events_clustered_{os.path.basename(SF_DIR.rstrip('/'))}")
    import pyarrow.parquet as pq

    ranges = []
    for f in os.listdir(clustered):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(clustered, f)).metadata
        col_idx = next(
            i for i in range(len(md.schema)) if md.schema.column(i).name == "ts"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 8, f"expected >=8 clustered files, got {len(ranges)}"
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_aqe_coalesces_small_shuffle(spark):
    """With AQE on, a small groupBy under deliberately oversized
    shuffle.partitions must coalesce post-shuffle reads instead of
    launching 200 near-empty reducers — the runtime re-plan the 100 TB
    configs rely on (set partitions generously; AQE right-sizes)."""
    from lambda_hive_spark.io import table
    from tests.conftest import SF_DIR

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        df = (
            table(spark, SF_DIR, "orders")
            .groupBy("o_orderstatus")
            .count()
        )
        df.collect()  # AQE finalizes the plan only after execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_shuffle_hash_hint_respected(spark):
    """The SHUFFLE_HASH hint must produce ShuffledHashJoin, not the
    SMJ default (and certainly not a broadcast at these sizes)."""
    plan = _plan(spark, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan, plan[:1500]


def test_zorder_narrows_both_dimensions(spark):
    """Z-order locality: after clustering on the Morton code, the MEAN
    per-file span of EACH input dimension must be well under the global
    span — linear sort would nail one dimension and leave the other at
    ~full range in every file."""
    from lambda_hive_spark.registry import all_ops
    from lambda_hive_spark.scratch import named as _scratch
    import os
    import pyarrow.parquet as pq

    all_ops()["maintenance_zorder"].fn(spark, SF_DIR).collect()
    clustered = _scratch(f"events_zorder_{os.path.basename(SF_DIR.rstrip('/'))}")
    spans = {"ub": [], "dy": []}
    glob = {"ub": [None, None], "dy": [None, None]}
    n_files = 0
    for f in os.listdir(clustered):
        if not f.endswith(".parquet"):
            continue
        n_files += 1
        md = pq.ParquetFile(os.path.join(clustered, f)).metadata
        for col in ("ub", "dy"):
            idx = next(i for i in range(len(md.schema)) if md.schema.column(i).name == col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            lo, hi = min(mins), max(maxs)
            spans[col].append(hi - lo)
            glob[col][0] = lo if glob[col][0] is None else min(glob[col][0], lo)
            glob[col][1] = hi if glob[col][1] is None else max(glob[col][1], hi)
    assert n_files >= 8, f"expected >=8 clustered files, got {n_files}"
    for col in ("ub", "dy"):
        g = glob[col][1] - glob[col][0]
        mean_span = sum(spans[col]) / len(spans[col])
        assert mean_span <= 0.6 * g, (
            f"{col}: mean per-file span {mean_span:.1f} vs global {g} — no locality"
        )


def test_runtime_bloom_filter_injected(spark):
    """join_runtime_bloom's fact scan must carry the runtime
    might_contain(xxhash64(l_orderkey)) filter — pruning before the
    shuffle is the op's entire reason to exist."""
    from lambda_hive_spark.registry import all_ops

    df = all_ops()["join_runtime_bloom"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan


def test_headline_shuffle_counts_do_not_regress(spark):
    """Shuffle-count regression guard: each headline op's physical plan
    must not grow Exchanges beyond its audited count (sf0.01, AQE
    initial plan). A new Exchange in one of these is a silent 100 TB
    regression long before it is a local wall-clock one."""
    from lambda_hive_spark.registry import all_ops

    # agg_hash / join_multiway carry one extra audited Exchange from
    # hier_exact_agg (helpers.py): its decimal merge level re-shuffles
    # one row per (group, input partition) — bytes are negligible at
    # any scale. r10 re-adjudicated the single-level try_sum rewrite
    # (1.67×/1.14× at sf0.1, parity EXACT) and REJECTED it for both:
    # their groups are corpus-sized, so the int64 group total
    # overflows at 100 TB (`git show cb260b8:tools/r10_q1_variants.py`;
    # the ops' docstrings and BASELINE §7 addendum 18 carry the record).
    AUDITED_MAX = {
        "agg_hash": 2,
        # r8: single-level long-micros try_sum (advagg.py) — Catalyst's
        # own partial/final sum, ONE exchange; safe there because
        # suppkey groups are key-bounded, unlike Q1's 6 corpus-sized
        # groups.
        "agg_partial_final": 1,
        "join_multiway": 6,
        "join_asof": 2,
        "win_topk_per_group": 1,
        # agg_pivot r8: same single-level rewrite (INT type codes kept,
        # six conditional try_sums on the bare int64 user key) — ONE
        # exchange; measured 1.47x over the r6 two-level at 100M events.
        "agg_pivot": 1,
        "distinct_rows": 1,
        "dedup_ngram_jaccard": 7,
        "sim_knn_exact": 2,
        "text_tf_idf": 4,
    }
    ops = all_ops()
    for name, bound in AUDITED_MAX.items():
        plan = ops[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        got = plan.count("Exchange")
        assert got <= bound, f"{name}: {got} Exchanges (audited max {bound})"


def test_cache_reuse_serves_from_memory(spark):
    """After maintenance_cache_reuse pins the dimension, an identical
    scan plans as InMemoryRelation — the second cut reads columnar
    cache, not parquet."""
    from lambda_hive_spark.io import table
    from lambda_hive_spark.registry import all_ops

    all_ops()["maintenance_cache_reuse"].fn(spark, SF_DIR).collect()
    plan = (
        table(spark, SF_DIR, "customer")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    try:
        assert "InMemoryRelation" in plan, plan[:500]
    finally:
        table(spark, SF_DIR, "customer").unpersist()


# op -> Generate nodes its plan needs: helpers.sorted_pairs' two, plus
# the shingle explode (dedup_ngram_jaccard, dedup_threshold_sweep) or
# the band-signature explode (dedup_minhash_md5).
_PAIR_EXPANSION_GENERATES = {
    "dedup_ngram_jaccard": 3,
    "dedup_minhash_md5": 3,
    "dedup_threshold_sweep": 3,
    "basket_pair_lift": 2,
}


@pytest.mark.parametrize("name", sorted(_PAIR_EXPANSION_GENERATES))
def test_jaccard_pair_expansion_is_chained_generates(spark, name):
    """r11: every i<j pair expansion must stay two chained Generate
    nodes (helpers.sorted_pairs: posexplode anchor + explode of the
    j>i slice) — the codegen path measured 1.2x over the interpreted
    nested-transform+flatten form at the 10x corpus. A plan that
    regresses to a single Generate over a flattened pair array
    re-enters the interpreted HOF evaluator for every pair (perf
    fence, not a correctness failure)."""
    plan = _plan(spark, name)
    assert "Generate posexplode" in plan, plan[:600]
    assert "flatten(" not in plan, plan[:600]
    assert plan.count("Generate ") >= _PAIR_EXPANSION_GENERATES[name]


def test_sorted_pairs_is_all_i_lt_j_combinations(spark):
    """helpers.sorted_pairs yields exactly itertools.combinations(arr,
    2) per row — no pair lost at either end of the slice arithmetic,
    none for an empty, single-element or null array."""
    from itertools import combinations

    from lambda_hive_spark.helpers import sorted_pairs

    arrays = {0: [], 1: [7], 2: [3, 9], 3: [1, 2, 4, 8, 16], 4: None}
    df = spark.createDataFrame(list(arrays.items()), "k int, ids array<int>")
    got = {
        k: sorted(
            (r["a"], r["b"])
            for r in sorted_pairs(df.filter(df.k == k), "ids", "a", "b").collect()
        )
        for k in arrays
    }
    assert got == {k: list(combinations(v or [], 2)) for k, v in arrays.items()}


def test_generate_has_no_inferred_prefilter(spark):
    """InferFiltersFromGenerate must stay excluded (session.py): it
    rewrites explode(expr) into a size()>0/isnotnull pre-filter that
    re-evaluates the full generator expression twice more per row —
    tripling scan-stage work for computed arrays (measured 3.0 s vs
    0.4 s on the sf0.1 shingle explode). Guard: the shingle pipeline's
    plan must contain no size(...) > 0 filter under the scan."""
    from lambda_hive_spark.registry import all_ops

    df = all_ops()["dedup_ngram_jaccard"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    scan_lines = [l for l in plan.splitlines() if "DataFilters" in l]
    assert not any("size(" in l for l in scan_lines), scan_lines


def test_headline_plans_stay_jvm_pure(spark):
    """No Python evaluation node may appear in any headline query's
    physical plan: the hot path must stay inside whole-stage codegen
    (BatchEvalPython = row-at-a-time pickle, ArrowEvalPython /
    FlatMapGroupsInPandas = Arrow batching — neither belongs in the
    relational/text headline set; the deliberate Python ops live in
    udx/multimodal and are excluded by design).

    MEASURED EXCEPTION — sim_knn_exact: its dense 64-dim scoring loop
    is the one headline workload where Arrow-batched numpy beats the
    JVM (the interpreted HOF fold costs 10.9 s at 2M vectors vs 2.3 s
    for the dim-major numpy accumulation with per-batch partial top-k;
    the unrolled-codegen alternative was measured 6× slower still,
    BASELINE.md §7). For that op the assertion INVERTS: the plan must
    contain exactly the one deliberate MapInPandas and still no
    row-at-a-time BatchEvalPython."""
    HEADLINE = [
        "agg_hash", "agg_partial_final", "join_multiway", "join_asof",
        "win_topk_per_group", "agg_pivot", "distinct_rows",
        "dedup_ngram_jaccard", "sim_knn_exact", "text_tf_idf",
    ]
    ARROW_SANCTIONED = {"sim_knn_exact"}
    for name in HEADLINE:
        plan = _plan(spark, name)
        if name in ARROW_SANCTIONED:
            assert plan.count("MapInPandas") == 1, f"{name}: expected the one sanctioned Arrow scorer"
            assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python in the hot path"
            continue
        for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, f"{name}: {node} in the hot path"


def test_bm25_plan_shape(spark):
    """BM25's 100 TB claims: scoring is entirely map-side (idf constant-
    folded from the bounded stats pass — NO join of any kind in the
    plan), top-k is a rank-limited window (WindowGroupLimit), and the
    pipeline is pure JVM."""
    plan = _plan(spark, "text_bm25_topk")
    assert "Join" not in plan, "scoring must stay map-side (no df/query join)"
    assert "WindowGroupLimit" in plan, "rank<=k should push into the window"
    assert "BatchEvalPython" not in plan, "no row-at-a-time Python"


def test_phrase_search_is_shuffle_free(spark):
    """Phrase matching is array HOFs over the token array: a scan +
    filter + union, embarrassingly parallel — any Exchange here would
    be a plan regression."""
    plan = _plan(spark, "text_phrase_search")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_boolean_search_is_map_only(spark):
    plan = _plan(spark, "text_boolean_search")
    assert "Exchange" not in plan, "AND-search must not shuffle"
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_bucketed_read_twin_reuses_layout_with_no_exchange(spark):
    """join_bucket_colocated_read: zero-exchange SMJ like its build
    twin, AND the second invocation reuses the bucketed layout (the
    steady-state path the 100x bench times) instead of rewriting it."""
    import os

    from lambda_hive_spark.operators.maintenance import sf_slug

    plan = _plan(spark, "join_bucket_colocated_read")
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 0, "bucketed read twin should not shuffle"
    # reuse proof: the table files' mtimes survive a second invocation
    # (table name via the op's own sf_slug helper so test and op
    # cannot drift — ADVICE r7)
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        "orders_bro_" + sf_slug(SF_DIR),
    )
    before = {f: os.path.getmtime(os.path.join(loc, f)) for f in os.listdir(loc)}
    OPS["join_bucket_colocated_read"].fn(spark, SF_DIR).collect()
    after = {f: os.path.getmtime(os.path.join(loc, f)) for f in os.listdir(loc)}
    assert before == after, "second invocation rewrote the bucketed layout"


def test_no_corpus_sized_forced_broadcast(spark):
    """r8 judge finding: dedup_near_minhash (and the former
    dedup_threshold_sweep) force-broadcast a per-document size table
    (one row per corpus doc) and dedup_apply_representative
    force-broadcasts a corpus-fraction drop list. Fixed by
    semi-join-pruning sizes to candidate ids before the hint (bounded
    by |pairs|) and un-hinting the drop-list join (AQE decides). Two
    guards so it cannot regress:

    1. source level — no `F.broadcast(sizes` / `F.broadcast(dropped`
       call site anywhere in operators/;
    2. plan level — dedup_near_minhash, the remaining size-table
       consumer, plans the LeftSemi prune upstream of its broadcast
       joins."""
    import glob
    import os

    import lambda_hive_spark.operators as pkg

    for path in glob.glob(os.path.join(os.path.dirname(pkg.__file__), "*.py")):
        src = open(path).read()
        # sizes/dropped: the r8 corpus-sized tables; first: the r9
        # per-user first-seen aggregates (one row per user = fact-
        # scaled); ev: contamination's exploded eval shingles.
        for pat in (
            "F.broadcast(sizes",
            "F.broadcast(dropped",
            "F.broadcast(first)",
            "F.broadcast(ev)",
        ):
            assert pat not in src, f"{os.path.basename(path)} regressed: {pat}"

    # engine level (r9 extension): the lakehouse MERGE/DV paths must
    # not force-broadcast caller-sized inputs either — the MERGE
    # source is whatever the caller brings (a backfill can be
    # fact-sized) and a bulk DV sidecar is O(deleted rows); both joins
    # stay unhinted so AQE picks the strategy from the real size.
    import lambda_hive_spark.lakehouse as lh_mod

    lh_src = open(lh_mod.__file__).read()
    assert "F.broadcast(" not in lh_src, (
        "lakehouse.py grew a forced broadcast — caller-sized MERGE "
        "sources and bulk DV sidecars must stay unhinted (AQE decides)"
    )

    plan = _plan(spark, "dedup_near_minhash")
    assert "LeftSemi" in plan, "dedup_near_minhash lost the candidate-id size prune"


def test_threshold_sweep_scans_documents_once(spark):
    """dedup_threshold_sweep runs dedup_ngram_jaccard's scored-pair
    pipeline, whose doc sizes ride inside the pair rows, so the corpus
    is read and shingled once. A size table joined back in scans
    `documents` a second time — at 100 TB a second tokenize pass."""
    df = OPS["dedup_threshold_sweep"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    scans = [l for l in final.splitlines() if "FileScan" in l and "documents" in l]
    assert len(scans) == 1, scans


def test_star_bucketed_zero_fact_exchange_and_bounded_shuffles(spark):
    """join_star_bucketed (BASELINE §7 addendum 14 → r9 driver-gated):
    the full Q5-shape star on the maintained bucketed layout. The fact
    join must be a co-located SortMergeJoin straight off the two
    bucketed scans (no Exchange between scan and join — the shuffle
    was paid at ingest), the date filter must reach the bucketed
    orders scan, the dims broadcast, and the ONLY hash exchange is
    hier_exact_agg's bounded per-(group, partition) partial merge.
    Raw fact rows never cross the wire."""
    plan = _plan(spark, "join_star_bucketed")
    assert "SortMergeJoin" in plan
    smj = plan.index("SortMergeJoin")
    # below the SMJ only its bucketed scans and the dims' broadcast
    # exchanges may appear — a hashpartitioning exchange there would be
    # a fact shuffle (the legitimate one sits above, over aggregates)
    assert "Exchange hashpartitioning" not in plan[smj:], "fact-side shuffle"
    # hier_exact_agg's (group, pid) partial merge plans two bounded
    # aggregate-side exchanges — both above the SMJ, both carrying
    # group-cardinality rows, never fact rows
    assert plan.count("Exchange hashpartitioning") == 2, "unexpected extra shuffle"
    assert plan[smj:].count("Bucketed: true") == 2, "a fact scan lost its bucketing"
    assert "GreaterThanOrEqual(o_orderdate" in plan[smj:], "date filter not pushed"


def test_no_corpus_sized_global_window(spark):
    """r9 self-audit: `Window.orderBy` with no partitionBy plans an
    `Exchange SinglePartition` — one task holds the whole input, the
    quiet scale killer. Six ops ranked/lagged corpus-sized inputs that
    way (shard assignment, curriculum ntile, RFM quintiles, balance
    deciles, key-gap lag, changepoint top-10); all now run through
    scale_windows.py's two-phase forms (bucket-parallel window +
    broadcast cumulative offsets, outputs proven bit-identical) or
    orderBy+limit. Three guards:

    1. source level — every remaining unpartitioned-window call site
       is whitelisted with its boundedness reason; a new site fails
       here until consciously justified;
    2. plan level — the converted ops plan the bucketed window
       (hashpartitioning on the _sw_b* bucket) and exactly as many
       SinglePartition exchanges as they have bounded bucket-summary
       sides (never one over the input);
    3. top-k level — ts_rate_changepoint plans TakeOrderedAndProject
       with zero SinglePartition exchanges."""
    import glob
    import os

    import lambda_hive_spark as pkg

    # (file, expected Window.orderBy( sites): every one runs over a
    # bounded input — llm: two over the 32-row vocab head; training:
    # one over the 512-row vocab; analytics: one over 100 part
    # buckets; timeseries: one over the 10-row top-k survivors;
    # scale_windows: two CODE sites over the caller-bounded bucket
    # summary plus four docstring mentions of the construct it
    # replaces (plain-text count keeps this tripwire dumb and cheap).
    whitelist = {
        "operators/llm.py": 2,
        "operators/training.py": 1,
        "operators/analytics.py": 1,
        "operators/timeseries.py": 1,
        "scale_windows.py": 6,
    }
    root = os.path.dirname(pkg.__file__)
    seen = {}
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        n = open(path).read().count("Window.orderBy(")
        if n:
            seen[os.path.relpath(path, root)] = n
    assert seen == whitelist, (
        f"unpartitioned-window sites moved: {seen} != {whitelist} — "
        "every Window.orderBy without partitionBy must be bounded and "
        "whitelisted here"
    )

    # plan shape: bucketed window + only bounded-summary single
    # partitions (one per scale_windows helper application)
    expected = {
        "customer_rfm_segments": 3,
        "customer_balance_deciles": 1,
        "pipeline_curriculum_order": 1,
        "pipeline_shard_assignment": 1,
        "quality_key_gaps": 1,
        "events_global_seq": 1,
    }
    for name, n_summaries in expected.items():
        plan = _plan(spark, name)
        assert "hashpartitioning(_sw_b" in plan, f"{name} lost the bucketed window"
        got = plan.count("Exchange SinglePartition")
        assert got == n_summaries, (
            f"{name}: {got} SinglePartition exchanges, expected "
            f"{n_summaries} (bounded bucket summaries only)"
        )

    plan = _plan(spark, "ts_rate_changepoint")
    assert "TakeOrderedAndProject" in plan, "top-10 lost the heap plan"
    assert "Exchange SinglePartition" not in plan


def test_tfidf_reuses_tf_shuffle_stage(spark):
    """r10: the df branch must stay byte-identical to the tf branch so
    AQE stage reuse materializes the tokenize+explode+count shuffle
    ONCE (the tautological tf >= 1 filter exists for exactly this;
    without it Catalyst prunes the count off the df branch and reuse
    cannot fire — the corpus would be tokenized twice).

    TRIAGE NOTE (ADVICE r10): a failure here is a PERFORMANCE fence
    tripping, not data corruption — results stay correct; it means a
    Spark upgrade (e.g. one that simplifies the tautological filter)
    regressed plan-shape reuse and the tokenize pass now runs twice.
    Fix the reuse (localCheckpoint the tf subtree is the fallback
    lever), don't suspect the data."""
    from lambda_hive_spark.registry import all_ops

    df = all_ops()["text_tf_idf"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedQueryStage") + plan.count("ReusedExchange") >= 1, plan[:800]


# r11 (VERDICT r10 item 3): the >25-static-Exchange diamond pipelines
# rely on AQE RUNTIME stage reuse to execute their repeated subtrees
# once — nothing pinned that until now. Minimums are the counts probed
# at sf0.01 on Spark 4.1; re-probe with
# `tools/measure.py bytes --sf-dir <sf0.01 dir> <op>`.
_DIAMOND_REUSE_MIN = {
    "text_lang_divergence_tv": 8,
    "dedup_near_minhash": 6,
    "sim_recall_eval": 4,
    "customer_rfm_segments": 4,
}


@pytest.mark.parametrize("name", sorted(_DIAMOND_REUSE_MIN))
def test_diamond_pipeline_stage_reuse(spark, name):
    """AQE must reuse the diamond subtrees' shuffle stages at runtime.

    TRIAGE NOTE: a failure here is a PERFORMANCE fence tripping, not
    data corruption — results stay correct; it means a Spark upgrade
    regressed exchange canonicalization/reuse and the repeated
    subtrees (tokenize/shingle/band passes) now execute more than
    once. The fallback lever is localCheckpoint on the shared subtree
    (guide §3.3); apply it and record the A/B rather than suspecting
    the data."""
    from lambda_hive_spark.registry import all_ops

    df = all_ops()[name].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    reuse = plan.count("ReusedQueryStage") + plan.count("ReusedExchange")
    assert reuse >= _DIAMOND_REUSE_MIN[name], (
        f"{name}: {reuse} reused stages < audited {_DIAMOND_REUSE_MIN[name]} "
        "(perf fence, not a correctness failure)"
    )
