"""Measure registered ops the way bench.py times them.

    python tools/measure.py time  [--tier T] [--runs N] [--pairs N] [op ...]
    python tools/measure.py plan  [--tier T] [--tag TAG] [--out DIR] [op ...]
    python tools/measure.py audit [--tier T] [--out FILE] [op ...]
    python tools/measure.py bytes [--tier T] [op ...]

time   build_ms (driver-side plan assembly) and exec_s (noop-sink wall)
       medians per op after one warm-up, with the /proc/stat steal each
       op's runs absorbed. Steal above MAX_STEAL_PCT, per op or over the
       session, marks the numbers UNRELIABLE and exits 3, so no
       adopt/reject decision rests on a contaminated run. --pairs N
       instead interleaves N single Spark and DuckDB runs per op, so VM
       weather hits both engines alike, and reports per-pair ratios.
plan   per op, to DIR/<op>_<tag>.txt: explain("formatted") before
       execution, then, after running the op through its own
       QueryExecution, the optimized logical plan and the AQE-final
       executed plan, with #<n> expression ids masked — the plans a
       refactor that claims "same plans" must keep.
audit  the plan shape of every registered op (or the ops named) as JSON: exchanges,
       Python boundaries, cartesian and single-partition sites,
       sort-merge joins, and each scan's table, ReadSchema columns and
       PushedFilters; prints build errors and the ops whose filters
       reach no scan.
bytes  runs each op through its own QueryExecution, then walks the
       AQE-final plan once: bytes and records written per Exchange,
       plus the reused stages — the count of the plan string's
       ReusedQueryStage + ReusedExchange that tests/test_plans.py's
       reuse fences assert. Byte counts are deterministic, unlike
       wall-clock on a shared VM.

--tier sf|10x|100x|1000x resolves through bench.TIERS: the corpus is the
tier's (built once from the sf dir and cached in scratch, as bench
does), ops default to the tier's op tuple and --runs to its run count.
The sf dir is --sf-dir, else $SPARK_GRAFT_SF_DIR. Never run this
alongside bench.py or another sweep: they share scratch locations.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    TIERS,
    _proc_stat_sample,
    _spark_samples,
    _steal_pct,
    _time_duck,
    tier_corpus,
)

MAX_STEAL_PCT = 3.0

_SCAN_RE = re.compile(
    r"FileScan parquet \[(?P<cols>[^\]]*)\][^\n]*?"
    r"Location: [^\[]*\[(?P<loc>[^\]]*)\][^\n]*?"
    r"PushedFilters: \[(?P<pushed>[^\]]*)\][^\n]*?"
    r"ReadSchema: struct<(?P<schema>[^>]*)>"
)
_ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "FlatMapCoGroupsInPandas",
)


def cmd_time(spark, ops, corpus, names, args) -> int:
    st_session = _proc_stat_sample()
    steals = []
    if args.pairs:
        from lambda_hive_spark.testing import duck_connection

        con = duck_connection(corpus)
        out = {}
        for name in names:
            op_ = ops[name]
            if not op_.oracle:
                print(f"{name}: no DuckDB twin, skipped")
                continue
            _spark_samples(op_.fn, spark, corpus, 0)  # warm-up both sides
            con.execute(op_.oracle).fetchall()
            rows = []
            for i in range(args.pairs):
                st0 = _proc_stat_sample()
                ((b, e),) = _spark_samples(op_.fn, spark, corpus, 1, warmup=0)
                td = _time_duck(con, op_.oracle, 1, warmup=0)
                steal = _steal_pct(st0, _proc_stat_sample()) or 0.0
                steals.append(steal)
                rows.append((b + e, td, (b + e) / td))
                print(f"{name} pair{i}: spark {b + e:7.3f}s  duck {td:7.3f}s  "
                      f"ratio {(b + e) / td:6.3f}  steal {steal:.2f}%", flush=True)
            out[name] = {
                "spark_med": round(statistics.median(r[0] for r in rows), 3),
                "duck_med": round(statistics.median(r[1] for r in rows), 3),
                "ratio_med": round(statistics.median(r[2] for r in rows), 3),
            }
        con.close()
        print(json.dumps(out, indent=1))
    else:
        runs = args.runs or args.tier_row.runs
        total = 0.0
        print(f"{'op':28s} {'build_ms':>9s} {'exec_s':>8s} {'steal%':>7s}")
        for name in names:
            st0 = _proc_stat_sample()
            samples = _spark_samples(ops[name].fn, spark, corpus, runs)
            steal = _steal_pct(st0, _proc_stat_sample()) or 0.0
            steals.append(steal)
            b = statistics.median(s[0] for s in samples)
            e = statistics.median(s[1] for s in samples)
            total += b + e
            print(f"{name:28s} {b * 1000:9.1f} {e:8.4f} {steal:7.2f}", flush=True)
        print(f"{'TOTAL (build+exec)':28s} {'':9s} {total:8.4f}")
    session = _steal_pct(st_session, _proc_stat_sample()) or 0.0
    worst = max(steals, default=0.0)
    verdict = "PASS" if max(session, worst) <= MAX_STEAL_PCT else "UNRELIABLE"
    print(f"steal gate: {verdict} (session {session:.2f}%, worst {worst:.2f}%, "
          f"limit {MAX_STEAL_PCT:.1f}%)")
    if verdict != "PASS":
        print("do not record these numbers for an adopt/reject decision; "
              "re-run in calmer weather")
        return 3
    return 0


def _explain(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# The AQE-final plans of text_lang_divergence_tv (its broadcast join
# builds either side) and stats_chi2_independence (its sibling shuffle
# stages are numbered in racing order) differ from run to run of the
# same code: fence on neither's string.
def cmd_plan(spark, ops, corpus, names, args) -> int:
    os.makedirs(args.out, exist_ok=True)
    for name in names:
        df = ops[name].fn(spark, corpus)
        formatted = _explain(spark, df)
        qe = _execute(df)
        sections = {
            "formatted (before execution)": formatted,
            "optimized": qe.optimizedPlan().toString(),
            "AQE-final executed": qe.executedPlan().toString(),
        }
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            for title, plan in sections.items():
                f.write(f"== {title} ==\n{re.sub(r'#[0-9]+', '#n', plan)}\n")
        print(path)
    return 0


def _scan_details(plan: str) -> list[dict]:
    out = []
    for m in _SCAN_RE.finditer(plan):
        loc = m.group("loc").rstrip("/").split(",")[0]
        cols = [c.split(":")[0].strip() for c in m.group("schema").split(",") if c.strip()]
        out.append({
            "table": os.path.basename(loc).replace(".parquet", ""),
            "read_cols": cols,
            "pushed": m.group("pushed").strip(),
        })
    return out


def audit_record(plan: str) -> dict:
    """The plan-shape record of one executed-plan string."""
    scans = _scan_details(plan)
    return {
        "exchanges": plan.count("Exchange"),
        "batch_eval_python": plan.count("BatchEvalPython"),
        "arrow_python": sum(plan.count(t) for t in _ARROW_NODES),
        "cartesian": plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin"),
        "single_partition": plan.count("Exchange SinglePartition"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "scans": len(scans),
        "scans_with_pushed": sum(1 for s in scans if s["pushed"]),
        "scan_detail": scans,
        "has_filter_node": plan.count("Filter (") + plan.count("+- Filter "),
    }


def cmd_audit(spark, ops, corpus, names, args) -> int:
    out = {}
    for name in args.ops or sorted(ops):
        try:
            plan = ops[name].fn(spark, corpus)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 — the audit must survive any op
            out[name] = {"error": f"{type(ex).__name__}: {ex}"[:200]}
            continue
        out[name] = audit_record(plan)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)

    ok = {n: r for n, r in out.items() if "error" not in r}
    print(f"ops audited: {len(out)}  build errors: {len(out) - len(ok)}  -> {args.out}")
    for n, r in sorted(out.items()):
        if "error" in r:
            print(f"  ERR {n}: {r['error']}")
    hist: dict[int, int] = {}
    for r in ok.values():
        hist[r["exchanges"]] = hist.get(r["exchanges"], 0) + 1
    print("exchange-count histogram:", dict(sorted(hist.items())))
    offenders = [
        (n, r) for n, r in ok.items()
        if r["has_filter_node"] and r["scans"] and not r["scans_with_pushed"]
    ]
    print(f"ops with Filter nodes but NO pushed scan filters: {len(offenders)}")
    for n, r in sorted(offenders, key=lambda t: -t[1]["has_filter_node"])[:40]:
        widths = ", ".join(f"{s['table']}:{len(s['read_cols'])}" for s in r["scan_detail"])
        print(f"  {n}: filters={r['has_filter_node']} scans=[{widths}]")
    return 0


def _walk(node, out: list) -> None:
    """(nodeName, {metric: value}) for every node of an executed plan,
    descending into AQE query stages. ReusedExchange is a leaf, so a
    reused exchange's bytes are counted once, at the original."""
    mets = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        mets[kv._1()] = kv._2().value()
    out.append((node.nodeName(), mets))
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), out)
    elif cls.endswith("QueryStageExec"):
        _walk(node.plan(), out)
    else:
        children = node.children()
        for i in range(children.size()):
            _walk(children.apply(i), out)


def _execute(df):
    """Run `df` through its own QueryExecution and return it: a noop
    write plans a separate command whose metrics and AQE-final plan
    this df never sees."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe


def exchange_bytes(df) -> dict:
    """Execute `df` (_execute), then read the AQE-final plan:
    per-Exchange shuffle bytes and records, and the reused stages. AQE
    reuses a stage by wrapping a ReusedExchange leaf, so counting those
    leaves counts every reuse once."""
    qe = _execute(df)
    nodes: list = []
    _walk(qe.executedPlan(), nodes)
    exchanges = [
        {
            "node": name,
            "bytes": int(m.get("shuffleBytesWritten", 0)),
            "records": int(m.get("shuffleRecordsWritten", 0)),
            "data_size": int(m.get("dataSize", 0)),
        }
        for name, m in nodes
        if "Exchange" in name and not name.startswith("Reused")
    ]
    return {
        "shuffle_bytes": sum(x["bytes"] for x in exchanges),
        "shuffle_records": sum(x["records"] for x in exchanges),
        "reused": sum(name == "ReusedExchange" for name, _ in nodes),
        "exchanges": exchanges,
    }


def cmd_bytes(spark, ops, corpus, names, args) -> int:
    for name in names:
        r = exchange_bytes(ops[name].fn(spark, corpus))
        print(f"{name}: shuffle bytes={r['shuffle_bytes']:,} records={r['shuffle_records']:,} "
              f"reused stages={r['reused']}")
        for x in r["exchanges"]:
            per = x["bytes"] / x["records"] if x["records"] else 0.0
            print(f"  {x['node']:28s} bytes={x['bytes']:>12,} records={x['records']:>10,} "
                  f"b/rec={per:6.1f} dataSize={x['data_size']:>12,}")
    return 0


COMMANDS = {"time": cmd_time, "plan": cmd_plan, "audit": cmd_audit, "bytes": cmd_bytes}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("command", choices=COMMANDS)
    p.add_argument("ops", nargs="*", help="op names (default: the tier's ops)")
    p.add_argument("--tier", default="sf", choices=TIERS)
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    p.add_argument("--runs", type=int, help="time: timed runs per op")
    p.add_argument("--pairs", type=int, default=0, help="time: interleaved pairs per op")
    p.add_argument("--tag", default="before", help="plan: file-name tag")
    p.add_argument("--out", help="plan: output dir (plans); audit: file (plans/plan_audit.json)")
    args = p.parse_intermixed_args(argv)
    if not args.sf_dir:
        p.error("give --sf-dir or set SPARK_GRAFT_SF_DIR")
    if args.out is None:
        args.out = "plans/plan_audit.json" if args.command == "audit" else "plans"
    args.tier_row = TIERS[args.tier]

    from lambda_hive_spark.registry import all_ops
    from lambda_hive_spark.session import get_spark

    spark = get_spark(f"measure_{args.command}")
    try:
        ops = all_ops()
        corpus = tier_corpus(spark, args.tier_row, args.sf_dir)
        names = args.ops or list(args.tier_row.ops)
        return COMMANDS[args.command](spark, ops, corpus, names, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
