"""Scale smoke (opt-in: SPARK_GRAFT_SCALE_SMOKE=1): replicate the
fixtures ~10× in scratch and re-run the heaviest operators — evidence
that the plans hold beyond fixture size, not just that they pass at
sf0.1. Results recorded in BASELINE.md §scale-smoke."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from lambda_hive_spark.io import table
from lambda_hive_spark.scratch import named

SF_BASE = "/root/testdata/sf0.1"  # biggest fixture; replicate upward from here

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_SMOKE") != "1",
    reason="opt-in scale smoke (set SPARK_GRAFT_SCALE_SMOKE=1)",
)


def _replicated(spark, name: str, copies: int, key: str):
    """Union `copies` shifted clones of a fixture table (distinct keys
    per clone so joins/dedups stay meaningful)."""
    base = table(spark, SF_BASE, name)
    out = named(f"scale_smoke/{name}_x{copies}")
    if not os.path.isdir(out):
        shift = base.agg(F.max(key)).collect()[0][0] + 1
        dfs = [base.withColumn(key, F.col(key) + F.lit(i * shift)) for i in range(copies)]
        big = dfs[0]
        for d in dfs[1:]:
            big = big.unionByName(d)
        big.repartition(32).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def test_q1_shape_at_6m_rows(spark):
    li = _replicated(spark, "lineitem", 10, "l_orderkey")
    assert li.count() == 600_000 * 10  # sf0.1 lineitem x10 = 6M rows
    from lambda_hive_spark.helpers import dsum

    got = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
    )
    rows = got.collect()
    assert len(rows) == 6  # same group cardinality, 10× the data
    # replication invariant: every group count is exactly 10x sf0.01's
    small = (
        table(spark, SF_BASE, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )
    small_n = {(r.l_returnflag, r.l_linestatus): r.n for r in small.collect()}
    for r in rows:
        assert r.n == 10 * small_n[(r.l_returnflag, r.l_linestatus)]


def test_jaccard_plan_at_15k_docs(spark):
    docs = _replicated(spark, "documents", 3, "doc_id")
    n_docs = docs.count()
    assert n_docs == 15_000  # sf0.1 documents x3 (pair stage is quadratic in clones)
    # run the bucket-pair plan inline over the replicated corpus
    from lambda_hive_spark.operators import llm

    sh = docs.select("doc_id", llm._shingles(llm._tokens()).alias("shingles"))
    e = sh.select("doc_id", F.explode("shingles").alias("s"))
    buckets = (
        e.repartition(32, "s")
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stats = buckets.agg(F.max("df").alias("max_df"), F.count(F.lit(1)).alias("n_shingles")).collect()[0]
    # each clone repeats the same texts → df scales 10×, bucket count flat:
    # the pair stage grows quadratically IN THE DUPLICATED data (real
    # duplicates!) but shingle-bucket count stays vocabulary-bounded.
    assert stats.n_shingles < 30_000  # vocabulary-bounded, does NOT scale with copies
    assert stats.max_df <= 3 * 25  # df scales with copies; buckets stay small


def test_jaccard_df_cap_bounds_pair_expansion(spark, monkeypatch):
    """Exercise the stop-shingle df-cap under replication: with the cap
    set BELOW the replicated max df, the post-filter bucket stage must
    contain no bucket larger than the cap (pair fan-out per bucket ≤
    cap·(cap-1)/2), and the op still runs end-to-end returning only
    canonical pairs."""
    docs = _replicated(spark, "documents", 3, "doc_id")
    from lambda_hive_spark.operators import llm

    cap = 10  # replicated max df is ~75 (3×25) — the cap must bite
    sh = docs.select("doc_id", llm._shingles(llm._tokens()).alias("shingles"))
    e = sh.select("doc_id", F.explode("shingles").alias("s"))
    capped_buckets = (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(2, cap))
    )
    assert capped_buckets.agg(F.max("df")).collect()[0][0] <= cap
    # and the registered op honors the env knob end-to-end
    monkeypatch.setenv("SPARK_GRAFT_JACCARD_MAX_DF", str(cap))
    out = llm.dedup_ngram_jaccard(spark, SF_BASE)
    rows = out.limit(1000).collect()
    for r in rows:
        assert r.doc_a < r.doc_b and r.jaccard >= 0.6


def test_orders_agg_at_1_5m_rows(spark):
    o = _replicated(spark, "orders", 10, "o_orderkey")
    assert o.count() == 1_500_000  # sf0.1 orders x10
    agg = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    total = sum(r.n for r in agg.collect())
    assert total == 1_500_000


def _replica_dir(spark, copies: int = 3) -> str:
    """A scratch sf_dir with events/documents/orders replicated
    `copies`× — surrogate keys shifted for uniqueness, but the PROFILED
    attributes (user_id, text, dates) kept identical, so profiling
    distributions must be exactly invariant and counts exactly ×N."""
    out = named(f"scale_smoke/repl{copies}")
    if not os.path.isdir(out):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        for name, key in [("events", "event_id"), ("documents", "doc_id"), ("orders", "o_orderkey")]:
            base = spark.read.parquet(f"{SF_BASE}/{name}.parquet")
            shift = base.agg(F.max(key)).collect()[0][0] + 1
            big = base
            for i in range(1, copies):
                big = big.unionByName(base.withColumn(key, F.col(key) + F.lit(i * shift)))
            big.repartition(32).write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    return out


def test_heavy_hitters_share_invariant_under_replication(spark):
    """3× the events with the same user_ids: the top-20 set and each
    share are bit-identical; each count exactly triples."""
    from lambda_hive_spark.registry import all_ops

    ops = all_ops()
    rep = _replica_dir(spark)
    base = {r.user_id: r for r in ops["profile_heavy_hitters"].fn(spark, SF_BASE).collect()}
    big = {r.user_id: r for r in ops["profile_heavy_hitters"].fn(spark, rep).collect()}
    assert set(base) == set(big)
    for uid, b in base.items():
        assert big[uid].cnt == 3 * b.cnt
        assert big[uid].share == b.share  # (3c)/(3T) == c/T exactly in IEEE

    skew_base = {r.events_per_user: r.n_users for r in ops["profile_key_skew"].fn(spark, SF_BASE).collect()}
    skew_big = {r.events_per_user: r.n_users for r in ops["profile_key_skew"].fn(spark, rep).collect()}
    assert skew_big == {3 * k: n for k, n in skew_base.items()}


def test_doc_repetition_score_invariant_under_replication(spark):
    """Cloned docs (shifted doc_id, same text) must score identically
    to their originals — the score is a pure per-doc function."""
    from lambda_hive_spark.registry import all_ops

    ops = all_ops()
    rep = _replica_dir(spark)
    base = {r.doc_id: (r.n_grams, r.n_distinct, r.dup_frac)
            for r in ops["doc_repetition"].fn(spark, SF_BASE).collect()}
    shift = max(base) + 1
    big = {r.doc_id: (r.n_grams, r.n_distinct, r.dup_frac)
           for r in ops["doc_repetition"].fn(spark, rep).collect()}
    assert len(big) == 3 * len(base)
    for doc_id, v in base.items():
        assert big[doc_id] == v
        assert big[doc_id + shift] == v
        assert big[doc_id + 2 * shift] == v


def test_interval_overlap_counts_triple_under_replication(spark):
    """3× the orders (same dates, distinct keys): every campaign's
    overlap count exactly triples — bucketing introduces no dup/loss."""
    from lambda_hive_spark.registry import all_ops

    ops = all_ops()
    rep = _replica_dir(spark)
    base = {r.campaign_id: r.n_orders for r in ops["join_interval_overlap"].fn(spark, SF_BASE).collect()}
    big = {r.campaign_id: r.n_orders for r in ops["join_interval_overlap"].fn(spark, rep).collect()}
    assert big == {k: 3 * v for k, v in base.items()}


def test_countmin_estimates_scale_exactly_10x(spark):
    """CMS linearity: replicating lineitem 10x (part keys unchanged)
    multiplies every bucket count by exactly 10, so every probe
    estimate is exactly 10x the base estimate — sketch contents stay
    fixed-size while remaining exact-in-structure."""
    from lambda_hive_spark.operators.sketches import sketch_countmin

    base = {r.p_partkey: r.est_count for r in sketch_countmin(spark, SF_BASE).collect()}
    li10 = _replicated(spark, "lineitem", 10, "l_orderkey")
    import os as _os

    big_dir = named("scale_smoke/cms_sf")
    _os.makedirs(big_dir, exist_ok=True)
    for t in ("part",):
        dst = f"{big_dir}/{t}.parquet"
        if not _os.path.lexists(dst):
            _os.symlink(f"{SF_BASE}/{t}.parquet", dst)
    li_dst = f"{big_dir}/lineitem.parquet"
    if not _os.path.lexists(li_dst):
        _os.symlink(named("scale_smoke/lineitem_x10"), li_dst)
    big = {r.p_partkey: r.est_count for r in sketch_countmin(spark, big_dir).collect()}
    assert set(big) == set(base)
    assert all(big[k] == 10 * base[k] for k in base)


def test_bloom_no_false_negatives_at_10x_keys(spark):
    """Structural Bloom guarantee at scale: with 10x the member keys
    (filter much fuller) there is STILL no (is_member, not bloom_says)
    row — false positives may grow, false negatives cannot exist."""
    from lambda_hive_spark.operators.sketches import sketch_bloom_membership
    import os as _os

    big_dir = named("scale_smoke/bloom_sf")
    _os.makedirs(big_dir, exist_ok=True)
    for t, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        dst = f"{big_dir}/{t}.parquet"
        if not _os.path.isdir(dst) and not _os.path.lexists(dst):
            base = table(spark, SF_BASE, t)
            shift = 1_000_000
            big = base
            for i in range(1, 10):
                big = big.unionByName(base.withColumn(key, F.col(key) + F.lit(i * shift)))
            big.repartition(8).write.mode("overwrite").parquet(dst)
    rows = sketch_bloom_membership(spark, big_dir).collect()
    combos = {(r.is_member, r.bloom_says) for r in rows}
    assert (True, False) not in combos, "bloom produced a false negative"
    assert (True, True) in combos


def test_chunk_dedup_finds_every_chunk_under_replication(spark):
    """Replicating documents 3x (same text, shifted ids) makes every
    full 32-token chunk appear in >=3 docs, so dedup_chunk_exact must
    return EXACTLY the set of distinct full-chunk hashes of the base
    corpus, each with n_copies = 3x its base occurrence count."""
    from lambda_hive_spark.operators.training import _CHUNK
    import os as _os

    docs3 = _replicated(spark, "documents", 3, "doc_id")
    big_dir = named("scale_smoke/chunk_sf")
    _os.makedirs(big_dir, exist_ok=True)
    dst = f"{big_dir}/documents.parquet"
    if not _os.path.lexists(dst):
        _os.symlink(named("scale_smoke/documents_x3"), dst)
    from lambda_hive_spark.operators.training import dedup_chunk_exact

    got = dedup_chunk_exact(spark, big_dir)
    # base: count distinct full chunks and their per-hash occurrence counts
    toks = table(spark, SF_BASE, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("tokens")
    )
    chunks = (
        toks.withColumn("start", F.explode(F.sequence(F.lit(1), F.size("tokens"), F.lit(_CHUNK))))
        .filter(F.least(F.col("start") + _CHUNK - 1, F.size("tokens")) - F.col("start") + 1 == _CHUNK)
        .select(F.md5(F.array_join(F.slice("tokens", F.col("start"), F.lit(_CHUNK)), " ")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    base_counts = {r.h: r.c for r in chunks.collect()}
    got_rows = {r.chunk_hash: r.n_copies for r in got.collect()}
    assert set(got_rows) == set(base_counts)
    assert all(got_rows[h] == 3 * c for h, c in base_counts.items())


def test_domain_cap_exact_under_replication(spark):
    """Replicating documents 10× (fresh doc_ids, same sources) must
    leave the quota output at EXACTLY K rows per source — the cap is
    the whole point: corpus growth cannot grow a domain's share."""
    docs = _replicated(spark, "documents", 10, "doc_id")
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    capped = (
        docs.select("source", "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 15)
    )
    per_source = capped.groupBy("source").count().collect()
    assert per_source, "no sources"
    assert all(r["count"] == 15 for r in per_source), per_source


def test_psi_zero_against_self_and_replication_invariant(spark):
    """PSI of a population against itself must be ~0 at any size, and
    replicating events 10× (ids shifted, values untouched) must keep
    each type's even-vs-odd PSI tiny and bounded — drift detection
    cannot hallucinate drift from volume."""
    ev = _replicated(spark, "events", 10, "event_id")
    binned = ev.select(
        "event_type",
        (F.col("event_id") % 2 == 0).alias("is_base"),
        F.least(F.floor(F.col("value") / 50.0).cast("bigint"), F.lit(9)).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.count_if(F.col("is_base")).cast("double").alias("n_a"),
        F.count_if(~F.col("is_base")).cast("double").alias("n_b"),
    )
    from pyspark.sql.window import Window

    wt = Window.partitionBy("event_type")
    psi = (
        counts.withColumn("tot_a", F.sum("n_a").over(wt))
        .withColumn("tot_b", F.sum("n_b").over(wt))
        .select(
            "event_type",
            (
                ((F.col("n_a") + 0.5) / (F.col("tot_a") + 5.0))
                - ((F.col("n_b") + 0.5) / (F.col("tot_b") + 5.0))
            ).alias("d"),
            F.log(
                ((F.col("n_a") + 0.5) / (F.col("tot_a") + 5.0))
                / ((F.col("n_b") + 0.5) / (F.col("tot_b") + 5.0))
            ).alias("l"),
        )
        .groupBy("event_type")
        .agg(F.sum(F.col("d") * F.col("l")).alias("psi"))
        .collect()
    )
    assert psi
    # even/odd ids of iid values: PSI must be far below the 0.1
    # "investigate" threshold at 100k rows/type
    assert all(abs(r["psi"]) < 0.01 for r in psi), psi


def test_interpolation_fixed_point_under_replication(spark):
    """Duplicating every event k× changes per-day SUMS but not per-day
    MEANS, so v_filled must be bit-identical to the base run — linear
    interpolation is a fixed point of volume replication. (Clones keep
    the same user_id/day; only event_id shifts.)"""
    from lambda_hive_spark.registry import all_ops

    base = all_ops()["ts_interpolate_linear"].fn(spark, SF_BASE).collect()
    # clone at the RAW layer (ts stays long nanos) so the op's own
    # loader applies its usual nanos→timestamp conversion to the copy
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SF_BASE}/events.parquet")
    clones = raw.unionByName(raw).unionByName(raw)  # 3x volume, same keys
    dup_dir = named("scale_smoke/events_dup3_dir")
    out = os.path.join(dup_dir, "events.parquet")
    if not os.path.isdir(out):
        clones.repartition(32).write.mode("overwrite").parquet(out)
    got = all_ops()["ts_interpolate_linear"].fn(spark, dup_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, base))


def test_bpe_merge_counts_scale_exactly_under_replication(spark):
    """3× the documents (text identical, ids shifted): every top-50
    merge candidate's count exactly triples and the candidate SET and
    ORDER are identical — pair counting is volume-linear."""
    from lambda_hive_spark.registry import all_ops

    ops = all_ops()
    base = ops["text_bpe_merge_step"].fn(spark, SF_BASE).collect()
    rep = ops["text_bpe_merge_step"].fn(spark, _replica_dir(spark)).collect()
    assert [(r["pair"], r["n"]) for r in rep] == [(r["pair"], 3 * r["n"]) for r in base]


def test_collocation_lift_invariant_under_replication(spark):
    """Lift is a ratio of counts, so uniform ×3 volume cancels EXACTLY
    (the scaled integer operands have the same true quotient, hence
    the same nearest-double): identical pair set, identical lift,
    n_ab exactly tripled."""
    from lambda_hive_spark.registry import all_ops

    ops = all_ops()
    base = ops["text_collocation_lift"].fn(spark, SF_BASE).collect()
    rep = ops["text_collocation_lift"].fn(spark, _replica_dir(spark)).collect()
    assert [(r["w_a"], r["w_b"], r["n_ab"], r["lift"]) for r in rep] == [
        (r["w_a"], r["w_b"], 3 * r["n_ab"], r["lift"]) for r in base
    ]


def test_burst_detect_triples_under_replication(spark):
    """3× the events (event_id shifted, user/ts/type identical): every
    error's trailing-hour count exactly triples, so 3n ≥ 2 holds for
    EVERY error (n counts itself, n ≥ 1) — the replicated output must
    be every error event ×3 with n_1h = 3·(base trailing-hour count),
    a sharper invariant than row-count scaling. Guards the round-5
    retune (≥2 errors/hour) against threshold drift."""
    from pyspark.sql import Window

    from lambda_hive_spark.registry import all_ops

    rep = all_ops()["events_burst_detect"].fn(spark, _replica_dir(spark))
    got = {
        (r["user_id"], r["ms"]): (r["cnt"], r["n"])
        for r in rep.groupBy("user_id", "ms")
        .agg(F.count("*").alias("cnt"), F.max("n_1h").alias("n"))
        .collect()
    }
    ev = (
        table(spark, SF_BASE, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", F.unix_millis("ts").alias("ms"))
    )
    w = Window.partitionBy("user_id").orderBy("ms").rangeBetween(-3600000, 0)
    base = {
        (r["user_id"], r["ms"]): (r["k"], r["n"])
        for r in ev.withColumn("n", F.count(F.lit(1)).over(w))
        .groupBy("user_id", "ms")
        .agg(F.count("*").alias("k"), F.max("n").alias("n"))
        .collect()
    }
    assert set(got) == set(base)
    for key, (k, n) in base.items():
        assert got[key] == (3 * k, 3 * n)


def test_duplicate_suspects_pair_arithmetic_under_replication(spark):
    """3× the orders (o_orderkey shifted, cust/price/date identical):
    every base suspect pair yields 9 clone pairs, and every single
    order now collides with its own 2 clones (same customer, same
    price band, day gap 0) adding C(3,2)=3 pairs — so the replicated
    row count is EXACTLY 9·base_pairs + 3·n_orders. Verifies the
    banded self-join arithmetic (no pair lost or double-counted under
    volume growth)."""
    from lambda_hive_spark.registry import all_ops

    op_ = all_ops()["orders_duplicate_suspects"]
    base_pairs = op_.fn(spark, SF_BASE).count()
    n_orders = table(spark, SF_BASE, "orders").count()
    rep_pairs = op_.fn(spark, _replica_dir(spark)).count()
    assert rep_pairs == 9 * base_pairs + 3 * n_orders
