"""Benchmark harness (SURVEY.md §6, BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

BASELINE.md interpretation: with no published reference numbers (empty
reference dir), the comparable is DuckDB 1.0 wall-clock on the same
oracle SQL over the same parquet — reported per query as
"duckdb_sec" so every round records the ratio alongside.

Timing method: median of 3 runs after 1 warm-up; Spark queries are
materialized with a noop write (full execution, no driver collect
cost); DuckDB with fetchall on the same connection.

The four op tiers (sf, 10×, 100×, 1000×) are rows of `TIERS`, each run
by `_run_tier`; `tools/measure.py` resolves its `--tier` through the
same table.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The headline set: one per operator family, weighted toward the ops
# that stress scan/shuffle/join/window/text/vector paths.
HEADLINE = (
    "agg_hash",            # flagship TPC-H-Q1 shape
    "agg_partial_final",   # mid-cardinality groupBy
    "join_multiway",       # 5-table star join
    "join_asof",           # union+window as-of
    "win_topk_per_group",  # window rank-filter
    "agg_pivot",           # pivot over events
    "distinct_rows",       # full-row shuffle dedup
    "dedup_ngram_jaccard", # shingle self-join (text path)
    "sim_knn_exact",       # vector dot-product path
    "text_tf_idf",         # explode + two-level agg
)

# Median-of-5 after warm-up (VERDICT r3 item 4: the r03 headline read
# noisy on sub-second queries; 5 runs pins the median against
# scheduler jitter). Env-overridable for quick iteration loops.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# Multi-rowgroup corpus (BASELINE.md §scale-smoke shape): the sf0.1
# fixtures are ONE file / ONE row group each, so every sub-second scan
# is a single task and Spark's ~0.3 s scheduling floor dominates the
# per-query ratio. The scale section replicates the hot tables with
# shifted keys into 32-file directories — scans parallelize across 32
# tasks, which is the signal that matters for the 100 TB question.
# Clone counts match tests/test_scale_smoke.py (documents ×3 because
# the clones are real duplicates: pair work grows quadratically).
SCALE_TABLES = {
    "lineitem": ("l_orderkey", 10),
    "orders": ("o_orderkey", 10),
    "documents": ("doc_id", 3),
    "embeddings": ("vec_id", 10),
}
# lineitem and orders must shift their orderkeys by the SAME offset so
# the replicated fact-fact join keys still line up (clone i of a
# lineitem row joins clone i of its order; o_custkey is left alone, so
# dimension joins hit the unreplicated customer table unchanged).
SCALE_SHIFT_GROUPS = ({"lineitem", "orders"},)
SCALE_HEADLINE = (
    "agg_hash",            # 6M-row scan + groupBy
    "distinct_rows",       # 6M-row full-width shuffle dedup
    "join_multiway",       # 6M x 1.5M fact-fact shuffle join + broadcast dims
    "agg_partial_final",   # 6M-row mid-cardinality groupBy (map-side combine)
    "text_tf_idf",         # 15k docs, explode + two-level agg
    "dedup_ngram_jaccard", # 15k docs, 9× pair work (real duplicates)
    "sim_knn_exact",       # 10 queries × 5k corpus vectors
)


# Dedicated bucketed-vs-shuffle section (VERDICT r6 item 4): the
# fact-fact core (orders⋈lineitem + groupBy on the join key, ~15M
# output groups at 100×) measured three ways — the bucketed READ path
# (layout built once in the warm-up, timed runs pay only the
# zero-exchange SMJ), the SAME query through a plain shuffle join
# (the honest in-engine twin), and DuckDB with the 15M-row transfer
# collapsed (COUNT/SUM wrap: strictly LESS DuckDB work, ratio
# conservative against Spark — fetchall of 15M tuples would time the
# Python transfer, not the join). Kept OUT of the 100× op tuple so
# the tier total stays comparable round-over-round; this workload
# class (mass per-key output) is reported on its own.
_BUCKETED_DUCK_WRAP = (
    "SELECT COUNT(*) AS n, SUM(n_items) AS s_items, SUM(order_value) AS s_val "
    "FROM ({sql})"
)


def _bucketed_study(spark, ops: dict, corpus: str, con, tier_detail: dict) -> dict:
    """The bucketed-vs-shuffle side study of the 100× tier, run inside
    the tier's steal window. The shuffle twin is built inline so both
    formulations read the identical corpus; the full star on the same
    layout (join_star_bucketed, BASELINE addendum 15) is compared with
    the tier's raw join_multiway time."""
    from pyspark.sql import functions as F

    from lambda_hive_spark.helpers import dsum
    from lambda_hive_spark.io import table

    metric = "scale100_bucketed_factfact_sec"
    runs = tier_detail["runs"]
    star_raw = tier_detail["queries"].get("join_multiway")
    star_duck = tier_detail["duckdb_sec"].get("join_multiway")
    bk_op = ops["join_bucket_colocated_read"]
    try:
        bk_spark = round(_time_spark(bk_op.fn, spark, corpus, runs), 4)
        o = table(spark, corpus, "orders")
        li = table(spark, corpus, "lineitem")
        shuffle_twin = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum("l_extendedprice").alias("order_value"),
            )
        )
        bk_shuffle = round(
            _time_spark(lambda _s, _d: shuffle_twin, spark, corpus, runs), 4
        )
        bk_duck = round(
            _time_duck(con, _BUCKETED_DUCK_WRAP.format(sql=bk_op.oracle), runs), 4
        )
        st_spark = round(
            _time_spark(ops["join_star_bucketed"].fn, spark, corpus, runs), 4
        )
    except Exception as ex:  # never let the side study kill the artifact
        return {"metric": metric, "error": f"{type(ex).__name__}: {ex}"[:300]}
    return {
        "metric": metric,
        "bucketed_read_sec": bk_spark,
        "same_query_shuffle_sec": bk_shuffle,
        "duckdb_wrapped_sec": bk_duck,
        "bucketed_vs_shuffle": round(bk_spark / bk_shuffle, 3) if bk_shuffle else None,
        "star_bucketed_sec": st_spark,
        "star_raw_sec": star_raw,
        "star_bucketed_vs_raw": round(st_spark / star_raw, 3) if star_raw else None,
        "star_bucketed_vs_duckdb": round(st_spark / star_duck, 3) if star_duck else None,
    }


class Tier(NamedTuple):
    """One timed op tier: its ops run against DuckDB's twin on a corpus
    of the fixtures with `tables` replicated by `_scale_corpus` (None:
    the fixtures as they are)."""

    section: str  # BENCH_DETAIL key; also the corpus's scratch name
    name: str  # TIERS key; the tools/measure.py --tier value
    metric: str
    ops: tuple[str, ...]
    runs: int
    tables: dict | None = None  # {table: (key column, copies)}
    shift_groups: tuple = ()
    skip_env: str | None = None  # set to "0" to skip the tier
    # (detail key, study) run after the ops, inside the steal window
    side: tuple[str, Callable] | None = None


TIERS = {t.name: t for t in (
    Tier("headline", "sf", "headline_total_wall_sec", HEADLINE, N_RUNS),
    # Median-of-3 after warm-up: the r4 verdict noted DuckDB's jaccard
    # time swings 7-12 s run-to-run on this corpus, which moved the
    # recorded scale ratio between 0.44× and 0.87× while Spark's own
    # times stayed stable — a single sample was the noisiest number in
    # the whole evidence chain. ~45 s extra wall per bench run.
    Tier(
        "scale",
        "10x",
        "scale_multirowgroup_total_wall_sec",
        SCALE_HEADLINE,
        int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_RUNS", "3")),
        SCALE_TABLES,
        SCALE_SHIFT_GROUPS,
        "SPARK_GRAFT_BENCH_SCALE",
    ),
    # 100× tier (VERDICT r5 item 3): the 10× corpus proved the per-query
    # gap AMORTIZES but not that it CROSSES — 9 headline queries stayed
    # individually >2× DuckDB at sf0.1 because Spark's fixed ~0.2-0.4 s
    # scheduling+py4j floor dominates sub-second work. This tier grows
    # the fact tables ~100× sf0.1 (lineitem 60M rows, orders 15M, events
    # 10M, embeddings 200k, documents ×10 — ~sf10-equivalent, a few GB of
    # parquet) and records per-query Spark/DuckDB ratios for exactly the
    # nine letter-weak queries, so the crossover itself is on the record.
    # dedup_ngram_jaccard is excluded: its pair work grows quadratically
    # in the duplicate factor (documents ×10 → 100× pairs) and it already
    # beats DuckDB 0.2-0.3× at both smaller tiers.
    Tier(
        "scale100",
        "100x",
        "scale100_crossover_total_wall_sec",
        ("agg_hash", "agg_partial_final", "join_multiway", "join_asof",
         "win_topk_per_group", "agg_pivot", "distinct_rows", "sim_knn_exact",
         "text_tf_idf"),
        int(os.environ.get("SPARK_GRAFT_BENCH_SCALE100_RUNS", "3")),
        {
            "lineitem": ("l_orderkey", 100),
            "orders": ("o_orderkey", 100),
            "events": ("event_id", 100),
            "embeddings": ("vec_id", 100),
            "documents": ("doc_id", 10),
        },
        ({"lineitem", "orders"},),
        "SPARK_GRAFT_BENCH_SCALE100",
        side=("bucketed", _bucketed_study),
    ),
    # 1000× tier: lineitem 600M rows / orders 150M / events 100M /
    # embeddings 2M (~sf100-equivalent, ~4.9 GB parquet, ~40 s one-time
    # map-side build). Measured r6: agg_hash crosses to 1.28×,
    # agg_partial_final 1.48×, win_topk_per_group 0.86× (Spark WINS),
    # join_asof 0.089× (Spark 11× faster — DuckDB's native ASOF collapses
    # at 100M events), sim_knn_exact 2.2× with the HOF fold (trajectory
    # 8×→3.8×→2.2×; an unrolled-64-term dot was measured 6× SLOWER —
    # codegen fallback — and rejected), then 0.8× after the Arrow-numpy
    # dim-major scorer with per-batch partial top-k (10.9 s → 2.3 s vs
    # DuckDB 2.8 s; bit-parity restamp-proven, BASELINE.md §7 addendum 3).
    # distinct_rows stays ~6-7×, and the floor is the SCAN, not the
    # distinct: decomposed at 60M rows (32-file parquet, local[32]),
    # max() over the same 3 columns costs 0.77 s vs 0.14 s for one long
    # column, while full distinct costs 0.74 s — i.e. materializing the
    # two dictionary-encoded string columns into per-row UTF8Strings is
    # ~100% of the query and the hash-distinct adds ~0. A packed-long
    # rewrite (unix_micros<<16 | ascii·2 with exact-fallback union) was
    # prototyped and measured NO faster (0.95 s vs 0.83 s — it pays a
    # second scan), confirming the partial+final distinct plan is already
    # optimal; DuckDB's edge is compressed execution (dictionary vectors
    # flow through its pipeline unmaterialized), a reader-level gap no
    # Spark plan change can close. agg_pivot's analogous string-key cost
    # WAS closable (level-1 INT type codes → fast hash map, advagg.py).
    # join_multiway is EXCLUDED by design: at 600M×150M the mandatory
    # shuffle meets DuckDB's shared-memory hash join (measured once:
    # Spark 37-50 s on a 16 GB heap vs DuckDB 5-6 s) and the default 8 GB
    # driver heap cannot hold the build side — the one-off numbers and the
    # floor analysis live in BASELINE.md §7.
    Tier(
        "scale1000",
        "1000x",
        "scale1000_crossover_total_wall_sec",
        ("agg_hash", "agg_partial_final", "distinct_rows", "win_topk_per_group",
         "agg_pivot", "join_asof", "sim_knn_exact"),
        int(os.environ.get("SPARK_GRAFT_BENCH_SCALE1000_RUNS", "2")),
        {
            "lineitem": ("l_orderkey", 1000),
            "orders": ("o_orderkey", 1000),
            "events": ("event_id", 1000),
            "embeddings": ("vec_id", 1000),
        },
        ({"lineitem", "orders"},),
        "SPARK_GRAFT_BENCH_SCALE1000",
    ),
)}


def tier_corpus(spark, t: Tier, sf_dir: str) -> str:
    """The sf-dir-shaped corpus a tier runs on (built once, cached)."""
    if t.tables is None:
        return sf_dir
    return _scale_corpus(spark, sf_dir, t.section, t.tables, t.shift_groups)


def _enabled(skip_env: str | None) -> bool:
    return skip_env is None or os.environ.get(skip_env, "1") != "0"


def _run_tier(spark, t: Tier, sf_dir: str, ops: dict) -> dict:
    """Time every op of a tier against its DuckDB twin: median-of-runs
    seconds per op, Spark/DuckDB ratios, and the hypervisor steal the
    tier's wall-clock absorbed (side study included)."""
    from lambda_hive_spark.testing import duck_connection

    corpus = tier_corpus(spark, t, sf_dir)
    con = duck_connection(corpus)
    queries: dict[str, float] = {}
    duck: dict[str, float] = {}
    ratio: dict[str, float] = {}
    st0 = _proc_stat_sample()
    for name in t.ops:
        op_ = ops[name]
        queries[name] = round(_time_spark(op_.fn, spark, corpus, t.runs), 4)
        if op_.oracle:
            duck[name] = round(_time_duck(con, op_.oracle, t.runs), 4)
            if duck[name]:
                ratio[name] = round(queries[name] / duck[name], 3)
    out = {
        "metric": t.metric,
        "value": round(sum(queries.values()), 4),
        "queries": queries,
        "duckdb_sec": duck,
        "duckdb_total_sec": round(sum(duck.values()), 4),
        "ratio_vs_duckdb": ratio,
        "runs": t.runs,
    }
    if t.tables is not None:
        out["copies"] = {name: c for name, (_, c) in t.tables.items()}
    if t.side is not None:
        key, study = t.side
        out[key] = study(spark, ops, corpus, con, out)
    con.close()
    out["steal_pct"] = _steal_pct(st0, _proc_stat_sample())
    return out


def _lake_section(spark, sf_dir: str) -> dict:
    """Lake write-path section at the 100× tier (VERDICT r9 item 2)."""
    st0 = _proc_stat_sample()
    try:  # corpus build included: never let the side study kill the artifact
        corpus = tier_corpus(spark, TIERS["100x"], sf_dir)
        return {
            "metric": "scale100_lake_write_path",
            **_lake_write_bench(spark, corpus),
            "steal_pct": _steal_pct(st0, _proc_stat_sample()),
        }
    except Exception as ex:
        return {
            "metric": "scale100_lake_write_path",
            "error": f"{type(ex).__name__}: {ex}"[:300],
        }


def _streaming_section(spark, sf_dir: str, ops: dict) -> dict:
    """Streaming family wall-clock (VERDICT r10 item 6): the 13 stream_*
    ops had never appeared in any timed tier. One true availableNow
    micro-batch pipeline is timed end-to-end: stream_sink streams the
    events fixture through the exactly-once parquet committer
    (checkpointed), reads the sink back and aggregates — op fn + noop
    sink, median-of-3 after warm-up, the same methodology as every
    other tier. Each run re-streams into the op's one sink and checkpoint,
    both wiped at its start (lambda_hive_spark/scratch.py), so nothing
    is cached across runs and nothing piles up."""
    st0 = _proc_stat_sample()
    try:
        s_sec = round(_time_spark(ops["stream_sink"].fn, spark, sf_dir, 3), 4)
        return {
            "metric": "streaming_availablenow_wall_sec",
            "stream_sink_sec": s_sec,
            "runs": 3,
            "steal_pct": _steal_pct(st0, _proc_stat_sample()),
        }
    except Exception as ex:  # never let the side study kill the artifact
        return {
            "metric": "streaming_availablenow_wall_sec",
            "error": f"{type(ex).__name__}: {ex}"[:300],
        }


def compact_line(full: dict) -> str:
    """The LAST stdout line. Only the LAST 2000 chars of stdout are
    recorded, plus the parse of the final line (BENCH_r06's `tail`
    truncated the full object and `parsed` came back null — VERDICT r6
    item 8). So the full metrics object goes to a sidecar
    file + an EARLIER stdout line, and the LAST line is a compact
    summary guaranteed to fit the tail window: contract fields
    (metric/value/unit/queries/sf) plus per-tier totals and the ratio
    that acceptance is graded on."""

    def tier_total(d: dict | None) -> dict | None:
        if d is None:
            return None
        return {
            "value": d["value"],
            "duckdb_total_sec": d["duckdb_total_sec"],
            "ratio": round(d["value"] / d["duckdb_total_sec"], 3)
            if d["duckdb_total_sec"]
            else None,
            "steal_pct": d.get("steal_pct"),
        }

    duck_total = sum(full["duckdb_sec"].values())
    lake = full["lake"]
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "queries": full["queries"],
        "sf": full["sf"],
        "duckdb_total_sec": round(duck_total, 4),
        "ratio_vs_duckdb": round(full["value"] / duck_total, 3) if duck_total else None,
        "steal_pct": full["steal_pct"],
        "scale": tier_total(full["scale"]),
        "scale100": tier_total(full["scale100"]),
        "scale1000": tier_total(full["scale1000"]),
        # write-path headline: DV bytes as a fraction of COW on the
        # same 1% MERGE batch (the O(changed rows) claim in one number)
        "lake": (
            {
                "bulk_load_sec": lake["bulk_load"]["sec"],
                "merge_dv_vs_cow_bytes_1pct": lake["merge_dv_vs_cow_1pct"][
                    "bytes_ratio"
                ],
                "merge_dv_vs_cow_sec_1pct": lake["merge_dv_vs_cow_1pct"]["sec_ratio"],
            }
            if lake and "error" not in lake
            else ({"error": lake["error"]} if lake else None)
        ),
        "streaming": full["streaming"],
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # belt-and-braces: never exceed the tail window
        compact["queries"] = {"total_only": full["value"]}
        line = json.dumps(compact)
    return line


def _scale_corpus(
    spark,
    sf_dir: str,
    tier: str = "scale",
    tables: dict | None = None,
    shift_groups: tuple = None,
) -> str:
    """Materialize (once, cached in scratch) an sf-dir-shaped corpus
    with the given tables replicated into 32-file parquet directories;
    all other tables symlink to the fixtures. Replication is one
    explode over a clone-ordinal sequence (a 100-way union would build
    a 100-branch plan), with the key column shifted per clone so keys
    stay unique; tables in the same shift group share the offset so
    fact-fact join keys still line up across clones."""
    from pyspark.sql import functions as F

    from lambda_hive_spark.io import TABLES
    from lambda_hive_spark.scratch import mark_scratch_fresh, named, scratch_stale

    tables = SCALE_TABLES if tables is None else tables
    shift_groups = SCALE_SHIFT_GROUPS if shift_groups is None else shift_groups
    out_dir = named(f"bench_{tier}_{os.path.basename(sf_dir.rstrip('/'))}")
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t in tables:
            src = os.path.join(sf_dir, f"{t}.parquet")
            # (size, mtime)-stamped cache: the driver regenerates the
            # fixtures between rounds (ADVICE r3), so a _SUCCESS-only
            # check would serve a stale replica.
            if not scratch_stale(dst, src):
                continue
            key, copies = tables[t]
            base = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            group = next((g for g in shift_groups if t in g), {t})
            shift = (
                max(
                    spark.read.parquet(os.path.join(sf_dir, f"{m}.parquet"))
                    .agg(F.max(tables[m][0]))
                    .collect()[0][0]
                    for m in group
                )
                + 1
            )
            # Repartition the BASE (cheap: fixture-sized) before the
            # explode so the clone fan-out runs map-side in 32 parallel
            # tasks and the written data never shuffles — repartition
            # AFTER explode would shuffle copies× the fixture.
            big = (
                base.repartition(32)
                .withColumn(
                    "_clone", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
                )
                .withColumn(key, F.col(key) + F.col("_clone") * F.lit(shift))
                .drop("_clone")
            )
            big.write.mode("overwrite").parquet(dst)
            mark_scratch_fresh(dst, src)
        elif not os.path.lexists(dst):
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)
    return out_dir


def _tree_sizes(root: str) -> dict[str, int]:
    """{abs file path: size} for every file under `root` (data files,
    manifests, dv/bloom sidecars) — the write-amplification ledger."""
    out: dict[str, int] = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _lake_write_bench(spark, corpus_dir: str) -> dict:
    """Write-path benchmark at the 100× tier (VERDICT r9 item 2): the
    lake verbs' wall seconds AND bytes written — bytes are the scale
    signal (deterministic, immune to VM weather; DV's whole reason to
    exist is O(changed rows) write amplification vs COW's O(touched
    files), and at a uniform trickle every file is touched).

    Protocol: orders at 100× (15M rows) lands range-partitioned into
    32 files (bulk_load); then for each batch fraction the SAME merge
    batch runs copy-on-write and merge-on-read back-to-back
    (interleaved, so the pair shares VM weather), with an O(1) RESTORE
    resetting the table between runs — restored files stay on disk, so
    per-verb bytes = files NEW under the table root. DV deletes defer
    a rewrite; compact_materialize prices exactly that deferred cost.
    Seconds are single-shot (a write can't re-run without mutating
    state); the COW/DV comparison stands on bytes + the interleaved
    pairing, not on median-of-N."""
    from pyspark.sql import functions as F

    from lambda_hive_spark import lakehouse as lh
    from lambda_hive_spark.io import table as _table
    from lambda_hive_spark.scratch import clear_scratch, fresh

    root = fresh("bench_lake")
    path = os.path.join(root, "orders")
    base = _table(spark, corpus_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_rows = base.count()

    def _timed(fn) -> tuple[float, int]:
        before = _tree_sizes(path) if os.path.isdir(path) else {}
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        after = _tree_sizes(path)
        return round(dt, 3), sum(sz for p, sz in after.items() if p not in before)

    out: dict[str, dict] = {}
    t, b = _timed(
        lambda: lh.create(
            spark, path, base.repartitionByRange(32, "o_orderkey"), key="o_orderkey"
        )
    )
    out["bulk_load"] = {"sec": t, "bytes": b, "rows": n_rows}
    base_v = lh.current_version(path)
    shift = base.agg(F.max("o_orderkey") + 1).collect()[0][0]

    # incremental bulk append: 10% new keys, no rewrite on any path
    app = base.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(shift)
    )
    t, b = _timed(lambda: lh.append(spark, path, app))
    out["append_10pct"] = {"sec": t, "bytes": b}
    lh.restore(spark, path, base_v)

    # trickle → bulk MERGE, COW vs DV interleaved per fraction
    for frac, mod in (("0.1pct", 1000), ("1pct", 100), ("10pct", 10)):
        upd = base.filter(F.col("o_orderkey") % mod == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        )
        n_upd = upd.count()
        for mode, kw in (("cow", {}), ("dv", {"deletion_vectors": True})):
            t, b = _timed(lambda: lh.merge_upsert(spark, path, upd, **kw))
            out[f"merge_{mode}_{frac}"] = {"sec": t, "bytes": b, "rows_matched": n_upd}
            lh.restore(spark, path, base_v)

    # DELETE pair at a 1% uniform trickle + the deferred DV rewrite
    for mode, kw in (("cow", {}), ("dv", {"deletion_vectors": True})):
        t, b = _timed(
            lambda: lh.delete_where(
                spark, path, "o_orderkey % 100 = 7", prune="auto", **kw
            )
        )
        out[f"delete_{mode}_1pct"] = {"sec": t, "bytes": b}
        if mode == "dv":
            t2, b2 = _timed(lambda: lh.compact(spark, path, num_files=32))
            out["compact_materialize"] = {"sec": t2, "bytes": b2}
        lh.restore(spark, path, base_v)

    for frac in ("0.1pct", "1pct", "10pct"):
        cow, dv = out[f"merge_cow_{frac}"], out[f"merge_dv_{frac}"]
        out[f"merge_dv_vs_cow_{frac}"] = {
            "bytes_ratio": round(dv["bytes"] / cow["bytes"], 4) if cow["bytes"] else None,
            "sec_ratio": round(dv["sec"] / cow["sec"], 3) if cow["sec"] else None,
        }
    clear_scratch(root)
    return out


def _proc_stat_sample() -> tuple[int, int] | None:
    """(steal_jiffies, total_jiffies) from the aggregate /proc/stat cpu
    line — sampled at tier boundaries so BENCH_DETAIL records how much
    hypervisor steal each tier's wall-clock absorbed (VERDICT r7
    item 8: raw seconds swing ±30% with VM weather; a per-tier steal%
    lets ratio-vs-seconds arguments cite contention without a
    dedicated interleaved A/B session)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:]]
    except (OSError, ValueError):
        return None
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] <= before[1]:
        return None
    return round(100.0 * (after[0] - before[0]) / (after[1] - before[1]), 2)


def _spark_samples(
    fn, spark, sf_dir: str, runs: int, warmup: int = 1
) -> list[tuple[float, float]]:
    """(build_s, exec_s) for each timed run of an op: build is the op
    fn call (driver-side plan assembly), exec the noop-sink action
    (plan + schedule + execute). The first `warmup` runs fill the plan
    and file-index caches and are dropped."""
    out = []
    for i in range(warmup + runs):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        if i >= warmup:
            out.append((t1 - t0, time.perf_counter() - t1))
    return out


def _time_spark(fn, spark, sf_dir: str, runs: int = N_RUNS) -> float:
    return statistics.median(
        b + e for b, e in _spark_samples(fn, spark, sf_dir, runs)
    )


def _time_duck(con, sql: str, runs: int = N_RUNS, warmup: int = 1) -> float:
    times = []
    for i in range(warmup + runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        dt = time.perf_counter() - t0
        if i >= warmup:
            times.append(dt)
    return statistics.median(times)


def main() -> None:
    # The bucketed-build sort at the 100x tier runs 20 concurrent
    # full-width sorters; at the stock 8g driver heap the execution
    # pool sits at a cliff (one of three runs died with
    # UNABLE_TO_ACQUIRE_MEMORY). 12g on this 128 GiB single-JVM box
    # clears it with margin; an explicit env still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from lambda_hive_spark.registry import all_ops
    from lambda_hive_spark.session import get_spark

    ops = all_ops()
    spark = get_spark("lambda_hive_spark_bench")

    def run(t: Tier) -> dict | None:
        return _run_tier(spark, t, sf_dir, ops) if _enabled(t.skip_env) else None

    # Run order: sf, 10×, 100× (+ bucketed study), the lake write path
    # and the streaming drain, then 1000×.
    head, scale, scale100 = [run(TIERS[k]) for k in ("sf", "10x", "100x")]
    lake = _lake_section(spark, sf_dir) if _enabled("SPARK_GRAFT_BENCH_LAKE") else None
    streaming = (
        _streaming_section(spark, sf_dir, ops)
        if _enabled("SPARK_GRAFT_BENCH_STREAMING")
        else None
    )
    scale1000 = run(TIERS["1000x"])

    full = {
        "metric": head["metric"],
        "value": head["value"],
        "unit": "sec",
        "queries": head["queries"],
        "sf": float(sf),
        "duckdb_sec": head["duckdb_sec"],
        "duckdb_total_sec": head["duckdb_total_sec"],
        "scale": scale,
        "scale100": scale100,
        "lake": lake,
        "streaming": streaming,
        "scale1000": scale1000,
        "steal_pct": head["steal_pct"],
        "config": {
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        },
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))  # full object, not the final line
    print(compact_line(full))
    spark.stop()


if __name__ == "__main__":
    main()
