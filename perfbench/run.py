"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload pipeline_lake --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything the run writes lives under
`.perfbench_work/`: `cache/` keeps the generated corpora between
runs, `run-<pid>/` holds this run's lake
root, landing directory, stream sink and checkpoints, SPARK_LOCAL_DIRS
and warehouse, and is deleted when the run ends. A traced run also
writes its spans to `traces/<workload>-seed<n>.json`.

The last line of standard output is one JSON object: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. The lines before it are a readable report.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")


class Ctx:
    def __init__(self, args) -> None:
        self.seed, self.seconds, self.workload = args.seed, args.seconds, args.workload
        self.nproc = len(os.sched_getaffinity(0))
        self.cache = os.path.join(WORK, "cache")
        self.run_root = os.path.join(WORK, f"run-{os.getpid()}")
        self.tracer = None


def _tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    with at least 10 samples beyond it. Below 21 samples that percentile
    is not above the median, and the maximum is reported instead."""
    xs = sorted(values)
    k = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs) - 1 - k


def _vm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait until it has exited, so
    that no process of the run outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _measure(ctx, wl, spark) -> tuple[list, list[float]]:
    """Units of work until `seconds` have passed (at least one)."""
    records, walls, start, u = [], [], time.perf_counter(), 0
    while True:
        t0 = time.perf_counter()
        records += wl.unit(spark, ctx.trace, u)
        walls.append(time.perf_counter() - t0)
        u += 1
        if time.perf_counter() - start >= ctx.seconds:
            return records, walls


def run(ctx) -> dict:
    import bench
    import workloads
    from lambda_hive_spark.session import get_spark
    from spans import Tracer

    ctx.tracer = tr = Tracer(ctx.trace, f"{ctx.workload}-seed{ctx.seed}")
    wl = workloads.WORKLOADS[ctx.workload](ctx)
    stat0 = bench._proc_stat_sample()
    spark = None
    try:
        t = time.perf_counter()
        with tr.span("session", "start"):
            spark = get_spark(f"perfbench-{ctx.workload}")
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t
        wl.warm(spark)
        # Set-up is process start (imports, JVM launch, session start,
        # warm-up) to the first timed op, less the benchmark's own
        # input work in `prepare` (corpus check or build, change batches).
        setup_s = time.perf_counter() - T_PROCESS - prepare_s
        records, walls = _measure(ctx, wl, spark)
        tr.enabled = False
        out = {"setup_s": setup_s, "start_s": start_s, "prepare_s": prepare_s, "records": records, "walls": walls}
        wl.check(spark, records)
        if ctx.trace:
            out["layers"] = wl.layer_metrics(records)
            out["self_ms"] = tr.self_ms()
            out["spans"] = tr.dump()
            out["overhead_s"] = tr.overhead_s
        out["jvm_peak_rss_mb"] = _vm_hwm_mb(spark)
    finally:
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
            _stop_jvm()
    out["steal_pct"] = bench._steal_pct(stat0, bench._proc_stat_sample())
    return out


def _report(ctx, out: dict, spec: dict) -> dict:
    records, walls = out["records"], out["walls"]
    lat = [r.ms for r in records if r.ok]
    if not lat:
        raise RuntimeError("no operation succeeded: " + "; ".join(sorted({r.err or "" for r in records}))[:500])
    tail, tail_pct, beyond = _tail(lat)
    failed = sum(not r.ok for r in records)
    measured = {
        "setup_s": out["setup_s"],
        "wall_s": statistics.median(walls),
        "ops_per_s": len(lat) / sum(walls),
        "client.op_p50_ms": statistics.median(lat),
        "client.op_tail_ms": tail,
        "client.failed_frac": failed / len(records),
        "session.start_s": out["start_s"],
        "session.jvm_peak_rss_mb": out["jvm_peak_rss_mb"],
        "host.steal_pct": out["steal_pct"] or 0.0,
        "host.nproc": float(ctx.nproc),
    }
    if ctx.trace:
        measured.update(out["layers"])
        # The traced pass minus the time spent reading counters for the
        # trace is what the same pass costs untraced.
        measured["trace.overhead_frac"] = out["overhead_s"] / (sum(walls) - out["overhead_s"])
        measured["trace.spans"] = float(len(out["spans"]))
        for layer, ms in out["self_ms"].items():
            measured[f"self_ms.{layer}"] = ms
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{ctx.workload}-seed{ctx.seed}.json"), "w") as fh:
            json.dump({"run_id": f"{ctx.workload}-seed{ctx.seed}", "spans": out["spans"]}, fh)
    listed = spec["end_to_end"] + spec["per_layer"]
    unknown = set(measured) - {m["name"] for m in listed}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    print(f"workload {ctx.workload} seed {ctx.seed} units {len(walls)} ops {len(records)}")
    print(f"setup_s {out['setup_s']:.3f} session_start_s {out['start_s']:.3f} prepare_s {out['prepare_s']:.3f} (not in setup_s)")
    built = [r for r in records if r.hit is not None]
    if built:
        hits = sum(r.hit for r in built)
        print(f"plan cache: {len({r.name for r in built})} distinct ops, {hits} hits, {len(built) - hits} misses")
    print(f"client.op_tail_ms is p{tail_pct:.1f} of {len(lat)} samples, {beyond} beyond it")
    for r in records:
        hit = "" if r.hit is None else f" hit={int(r.hit)}"
        build = "" if r.build_ms is None else f" build_ms={r.build_ms:.1f}"
        print(f"  u{r.unit} {r.name} ms={r.ms:.1f}{build}{hit}" + ("" if r.ok else f" FAILED {r.err}"))
    for m in listed:
        if m["name"] in measured:
            print(f"{m['name']} {measured[m['name']]:.6g} {m['unit']}")
    # A per-layer metric the workload never reaches is 0: it bypasses that layer.
    reported = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]} for m in reported},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("interactive_sf001", "pipeline_lake"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(REPO, "lambda_hive_spark")):
        raise SystemExit(f"lambda_hive_spark package not found under {REPO}")
    ctx = Ctx(args)
    ctx.trace = bool(args.trace)
    for stale in glob.glob(os.path.join(WORK, "run-*")):  # left by a killed run
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(ctx.run_root)
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.nproc)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(ctx.run_root, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.run_root, "local")
    # Temporary files of Python and of the JVM (native libraries it
    # unpacks) stay in the run root too. The JVM writes its perf-data
    # file to /tmp whatever java.io.tmpdir says, so it is turned off.
    tmp = os.path.join(ctx.run_root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's Python workers inherit this, so they import the package
    # whatever their working directory is.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, HERE, os.environ.get("PYTHONPATH")]))
    sys.path[:0] = [REPO, HERE]
    os.chdir(ctx.run_root)  # spark-warehouse, derby.log and metastore_db land in the run root
    try:
        out = run(ctx)
    finally:
        os.chdir(REPO)
        shutil.rmtree(ctx.run_root, ignore_errors=True)
    print(json.dumps(_report(ctx, out, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
