"""The workloads. Each one is a closed loop with a single client.

A workload prepares its inputs once (corpus, change batches), warms a
freshly started session, runs fixed units of work (`unit`), and checks
every output outside the timed region. One unit is:

- interactive_sf001: a fixed Zipf multiset of calls to the read-only
  registered ops on the sf0.01 corpus in a seeded order, each
  `Engine.run` + noop sink;
- pipeline_lake: one `orchestrator.Dag` run from an empty lake root.

Per-layer counters are gathered only while the tracer is on, and the
status store is read only after the timer of the work has stopped.
"""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import threading
import time
import weakref
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb
import numpy as np
from pyspark.sql import functions as F

import bench
from corpus import ensure as ensure_corpus
from lambda_hive_spark import lakehouse as lh
from lambda_hive_spark.api import Engine
from lambda_hive_spark.orchestrator import Dag
from lambda_hive_spark.registry import all_ops
from lambda_hive_spark.streaming import core as streaming
from lambda_hive_spark.testing import assert_parity, duck_connection
from spans import StageCounters

CORPUS_SEED = 42
OP_TIMEOUT_S = 60
# The 10x corpus as `bench._scale_corpus` builds it, plus events x10 so
# the stream drains 1M rows.
SCALE10_TABLES = {**bench.SCALE_TABLES, "events": ("event_id", 10)}
COUNTER_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "input_bytes", "shuffle_write_bytes", "shuffle_records", "spill_bytes",
)


@dataclass
class OpRecord:
    name: str
    unit: int
    ms: float = 0.0
    ok: bool = True
    err: str | None = None
    build_ms: float | None = None
    exec_s: float = 0.0
    hit: bool | None = None
    counters: dict = field(default_factory=dict)


def _fail(records: list[OpRecord], name: str, err: str, unit: int | None = None) -> None:
    for r in records:
        if r.name == name and r.ok and unit in (None, r.unit):
            r.ok, r.err = False, err


def _err(ex: BaseException) -> str:
    return f"{type(ex).__name__}: {str(ex)[:200]}"


def _run_checks(checks: dict, threads: int) -> dict[str, str]:
    """Run {op name: check()} on `threads` threads (the checks are
    untimed; Spark overlaps their jobs); returns {op name: error} for
    the checks that raised."""
    with ThreadPoolExecutor(threads) as pool:
        futures = {name: pool.submit(fn) for name, fn in checks.items()}
    return {name: "check: " + _err(f.exception()) for name, f in futures.items() if f.exception() is not None}


def _watchdog(spark, groups: list[str]) -> threading.Timer:
    """Cancel the op's job groups if it outlives OP_TIMEOUT_S; the
    cancelled action raises, and the op counts as failed."""
    sc = spark.sparkContext
    t = threading.Timer(OP_TIMEOUT_S, lambda: [sc.cancelJobGroup(g) for g in groups])
    t.daemon = True
    t.start()
    return t


def scale10_corpus(ctx, spark) -> str:
    """The 10x corpus, cached under the benchmark's cache root; it is
    rebuilt when the generated sf0.1 base changes."""
    base = ensure_corpus(os.path.join(ctx.cache, "sf0.1"), 0.1, CORPUS_SEED)
    prev = os.environ["SPARK_GRAFT_SCRATCH"]
    os.environ["SPARK_GRAFT_SCRATCH"] = ctx.cache  # where _scale_corpus writes
    try:
        return bench._scale_corpus(spark, base, "scale10", SCALE10_TABLES, bench.SCALE_SHIFT_GROUPS)
    finally:
        os.environ["SPARK_GRAFT_SCRATCH"] = prev


def parity_checks(eng: Engine, sf_dir: str, names, threads: int) -> dict[str, str]:
    """Check each op's output against its DuckDB oracle with
    `testing.assert_parity`, on `threads` threads (the checks are
    untimed; Spark overlaps their jobs); returns {op name: error} for
    the ops that failed."""
    ops = all_ops()
    con = duck_connection(sf_dir)

    def parity(name):
        df = eng.run(name)
        return lambda: assert_parity(df, con.cursor(), ops[name].oracle, name)

    try:
        return _run_checks({n: parity(n) for n in sorted(names)}, threads)
    finally:
        con.close()


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.eng: Engine | None = None
        self._last: dict[str, weakref.ref] = {}
        self.rng = np.random.default_rng(ctx.seed)

    def prepare(self, spark) -> None:
        """The workload's inputs: its corpus and anything derived from it."""

    def warm(self, spark) -> None:
        """Warm the JVM with a scan and an aggregate read directly from
        the corpus; no registered op and no plan of the registry runs."""
        spark.read.parquet(f"{self.sf_dir}/customer.parquet").groupBy("c_mktsegment").count().collect()
        self.eng = Engine(sf_dir=self.sf_dir, spark=spark)

    def call(self, name: str, group: str, unit: int, traced: bool) -> OpRecord:
        """`Engine.run(op)` + noop sink. A plan-cache hit is `Op.fn`
        returning the identical DataFrame object as the last call."""
        spark, tr, rec = self.eng.spark, self.ctx.tracer, OpRecord(name, unit)
        sc = spark.sparkContext
        dog = _watchdog(spark, [group + ".build", group])
        t0 = time.perf_counter()
        try:
            with tr.span("bench", name):
                sc.setJobGroup(group + ".build", name, True)
                with tr.span("registry", name):
                    df = self.eng.run(name)
                t1 = time.perf_counter()
                sc.setJobGroup(group, name, True)
                with tr.span("operators", name):
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            prev = self._last.get(name)
            rec.hit = prev is not None and prev() is df
            self._last[name] = weakref.ref(df)
            rec.build_ms, rec.exec_s, rec.ms = 1e3 * (t1 - t0), t2 - t1, 1e3 * (t2 - t0)
        except Exception as ex:  # noqa: BLE001 - any op error is a counted failure
            rec.ok, rec.err, rec.ms = False, _err(ex), 1e3 * (time.perf_counter() - t0)
        finally:
            dog.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
        if traced:
            with tr.overhead():
                counters = StageCounters(spark)
                rec.counters = counters.group(group)
                rec.counters["build_jobs"] = counters.group(group + ".build").get("jobs", 0.0)
        return rec

    def layer_metrics(self, records: list[OpRecord], exec_wall_s: float | None = None) -> dict:
        """registry.* and operators.* from the traced records; the cores
        are busy over `exec_wall_s`, by default the ops' summed exec time."""
        ok = [r for r in records if r.ok]
        if exec_wall_s is None:
            exec_wall_s = sum(r.exec_s for r in ok)
        built = [r for r in ok if r.build_ms is not None]
        builds = [r.build_ms for r in built]
        hits = [r.hit for r in built if r.hit is not None]
        out = {
            "registry.build_ms.p50": statistics.median(builds) if builds else 0.0,
            "registry.build_ms.total": sum(builds),
            "registry.build_jobs": sum(r.counters.get("build_jobs", 0.0) for r in built),
            "registry.plan_cache_hit_ratio": sum(hits) / len(hits) if hits else 0.0,
        }
        for k in COUNTER_KEYS:
            out[f"operators.{k}"] = sum(r.counters.get(k, 0.0) for r in ok)
        busy = out["operators.executor_run_ms"] / (1e3 * exec_wall_s * self.ctx.nproc) if exec_wall_s else 0.0
        out["operators.core_busy_ratio"] = busy
        return out


class Interactive(Workload):
    """Closed loop, one client. Popularity is Zipf(ZIPF_S) over the
    read-only ops in a fixed rank order (sha256 of the name), turned
    into a fixed multiset of CALLS calls by systematic sampling; the
    seed shuffles the order of the calls. Letting the seed draw the
    multiset made wall_s swing 25-60% between seeds, because the ops
    differ up to 30x in cost. A unit calls 9 distinct ops, fewer than
    the registry's 32-entry plan cache holds, so it hits and misses the
    cache but never evicts: a mix past 32 distinct ops (48 calls at
    Zipf 1.05) made a run 87 s against 64 s for this mix, too long for
    the run budget (see README.md)."""

    CALLS = 40
    ZIPF_S = 2.0

    def prepare(self, spark) -> None:
        self.sf_dir = ensure_corpus(os.path.join(self.ctx.cache, "sf0.01"), 0.01, CORPUS_SEED)
        ranked = sorted((n for n, o in all_ops().items() if "side_effect" not in o.tags and o.oracle),
                        key=lambda n: hashlib.sha256(n.encode()).hexdigest())
        cdf = np.cumsum(1.0 / np.arange(1, len(ranked) + 1) ** self.ZIPF_S)
        picks = np.searchsorted(cdf / cdf[-1], (np.arange(self.CALLS) + 0.5) / self.CALLS)
        self.calls = [ranked[i] for i in picks]

    def unit(self, spark, traced: bool, u: int) -> list[OpRecord]:
        names = [self.calls[i] for i in self.rng.permutation(self.CALLS)]
        return [self.call(n, f"u{u}.{i}", u, traced) for i, n in enumerate(names)]

    def check(self, spark, records: list[OpRecord]) -> None:
        names = {r.name for r in records if r.ok}
        for name, err in parity_checks(self.eng, self.sf_dir, names, self.ctx.nproc).items():
            _fail(records, name, err)


LAKE_VERBS = ("create", "merge_cow", "merge_dv", "delete_dv", "compact")
# Two headline ops read beside the lake writes: a pivot over the events
# and a window top-k. agg_hash is left out: at 10x its sum_charge misses
# the exact oracle by one ulp (see perfbench/README.md).
PIPELINE_OPS = ("agg_pivot", "win_topk_per_group")
STREAM_FILES_PER_TRIGGER = 8
LAKE_FILES = 32
_CHECKSUM_SQL = (
    "SELECT count(*), sum(o_orderkey), sum(round(o_totalprice * 100)::BIGINT), "
    "sum((o_orderkey % 1000) * round(o_totalprice * 100)::BIGINT) FROM ({q})"
)


def _checksum(df) -> tuple:
    """Spark twin of _CHECKSUM_SQL: exact integer sums that tie each
    price to its key."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    row = df.agg(F.count("*"), F.sum("o_orderkey"), F.sum(cents), F.sum((F.col("o_orderkey") % 1000) * cents)).collect()[0]
    return tuple(int(v or 0) for v in row)


class Pipeline(Workload):
    """One DAG from an empty lake root: a stream drain of the 10x
    events beside lake create/merge/delete/compact on orders 10x, with
    point and range scans, a read after the DV delete and two headline
    ops running beside the writes."""

    def prepare(self, spark) -> None:
        ctx = self.ctx
        self.sf_dir = scale10_corpus(ctx, spark)
        self.inputs = os.path.join(ctx.run_root, "inputs")
        os.makedirs(self.inputs)
        r = int(self.rng.integers(0, 100))
        self.cond = {"merge_cow": f"(o_orderkey + {r}) % 100 = 0", "merge_dv": f"(o_orderkey + {r}) % 100 = 37"}
        self.delete_pred = f"(o_orderkey + {r}) % 100 = 71"
        con = duckdb.connect()
        con.execute(f"SET threads={ctx.nproc}")
        orders = f"read_parquet('{self.sf_dir}/orders.parquet/*.parquet')"
        con.execute(f"COPY (SELECT o_orderkey, o_custkey, o_totalprice FROM {orders}) "
                    f"TO '{self.inputs}/create.parquet' (FORMAT PARQUET)")
        base = f"SELECT * FROM read_parquet('{self.inputs}/create.parquet')"
        for delta, (verb, cond) in enumerate(self.cond.items(), start=1):
            con.execute(f"COPY (SELECT o_orderkey, o_custkey, o_totalprice + {delta}.0 AS o_totalprice "
                        f"FROM ({base}) WHERE {cond}) TO '{self.inputs}/{verb}.parquet' (FORMAT PARQUET)")
        self.input_bytes = sum(os.path.getsize(p) for p in glob.glob(self.inputs + "/*.parquet"))
        lo, hi = con.execute(f"SELECT min(o_orderkey), max(o_orderkey) FROM ({base})").fetchone()
        self.point_pred = f"o_orderkey = {int(self.rng.integers(lo, hi + 1))}"
        a, width = int(self.rng.integers(lo, hi)), (hi - lo) // 100
        self.range_pred = f"o_orderkey >= {a} AND o_orderkey < {a + width}"
        after = (f"SELECT o_orderkey, o_custkey, o_totalprice + CASE WHEN {self.cond['merge_cow']} THEN 1.0 "
                 f"WHEN {self.cond['merge_dv']} THEN 2.0 ELSE 0.0 END AS o_totalprice "
                 f"FROM ({base}) WHERE NOT ({self.delete_pred})")

        def checksum(q: str) -> tuple:
            return tuple(int(v or 0) for v in con.execute(_CHECKSUM_SQL.format(q=q)).fetchone())

        self.want = {
            "scan_point": con.execute(f"{base} WHERE {self.point_pred}").fetchall(),
            "scan_range": checksum(f"{base} WHERE {self.range_pred}"),
            "read_after_delete": checksum(after),
            "final": checksum(after),
        }
        self.event_files = sorted(glob.glob(os.path.join(self.sf_dir, "events.parquet", "*.parquet")))
        self.events_rows = con.execute(f"SELECT count(*) FROM read_parquet({self.event_files})").fetchone()[0]
        con.close()
        self.units: list[dict] = []

    def _jobs(self, root: str, lake: str) -> list[tuple]:
        """(name, layer, fn(spark, deps), deps, writes_lake)."""
        tr, inp = self.ctx.tracer, self.inputs

        def stream(s, _):
            land = os.path.join(root, "landing")
            os.makedirs(land)
            for f in self.event_files:
                os.symlink(f, os.path.join(land, os.path.basename(f)))
            df = streaming.events_stream(s, land, max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
            streaming.to_parquet_sink(df, os.path.join(root, "sink"), timeout_s=OP_TIMEOUT_S)

        def headline(name):
            def fn(s, _):
                t0 = time.perf_counter()
                with tr.span("registry", name):
                    df = self.eng.run(name)
                build_ms = 1e3 * (time.perf_counter() - t0)
                with tr.span("operators", name):
                    df.write.format("noop").mode("overwrite").save()
                return build_ms
            return fn

        def create(s, _):
            df = s.read.parquet(f"{inp}/create.parquet").repartitionByRange(LAKE_FILES, "o_orderkey")
            return lh.create(s, lake, df, key="o_orderkey")

        return [
            ("stream", "streaming", stream, (), False),
            ("create", "lakehouse", create, (), True),
            ("merge_cow", "lakehouse", lambda s, _: lh.merge_upsert(
                s, lake, s.read.parquet(f"{inp}/merge_cow.parquet")), ("create",), True),
            ("merge_dv", "lakehouse", lambda s, _: lh.merge_upsert(
                s, lake, s.read.parquet(f"{inp}/merge_dv.parquet"), deletion_vectors=True), ("merge_cow",), True),
            ("delete_dv", "lakehouse", lambda s, _: lh.delete_where(
                s, lake, self.delete_pred, prune="auto", deletion_vectors=True), ("merge_dv",), True),
            ("compact", "lakehouse", lambda s, _: lh.compact(s, lake, num_files=LAKE_FILES), ("delete_dv",), True),
            ("scan_point", "lakehouse", lambda s, d: [tuple(r) for r in lh.scan_where(
                s, lake, self.point_pred, version=d["create"]).collect()], ("create",), False),
            ("scan_range", "lakehouse", lambda s, d: _checksum(lh.scan_where(
                s, lake, self.range_pred, version=d["create"])), ("create",), False),
            ("read_after_delete", "lakehouse", lambda s, d: _checksum(lh.read(s, lake, d["delete_dv"])),
             ("delete_dv",), False),
        ] + [(name, "operators", headline(name), (), False) for name in PIPELINE_OPS]

    def unit(self, spark, traced: bool, u: int) -> list[OpRecord]:
        tr = self.ctx.tracer
        root = os.path.join(self.ctx.run_root, f"u{u}")
        lake = os.path.join(root, "lake", "orders")
        walls: dict[str, float] = {}
        walks: dict[str, float] = {}  # the traced run's lake-size walks, around a job's wall
        lake_bytes: dict[str, int] = {}
        jobs = self._jobs(root, lake)
        ckpt_glob = os.path.join(os.environ["SPARK_GRAFT_SCRATCH"], "streaming", "ckpt-*")
        ckpts = set(glob.glob(ckpt_glob))
        with tr.span("orchestrator", f"u{u}.dag") as dag_span:

            def wrap(name, layer, fn, writes):
                def run(s, deps):
                    walk = traced and writes
                    if walk:
                        t0 = time.perf_counter()
                        with tr.overhead():
                            before = bench._tree_sizes(lake)
                        walks[name] = time.perf_counter() - t0
                    dog = _watchdog(s, [f"u{u}.{name}"])
                    t0 = time.perf_counter()
                    try:
                        with tr.span(layer, name, parent=dag_span):
                            return fn(s, {d.split(".", 1)[1]: v for d, v in deps.items()})
                    finally:
                        walls[name] = time.perf_counter() - t0
                        dog.cancel()
                        if walk:
                            t0 = time.perf_counter()
                            with tr.overhead():
                                lake_bytes[name] = sum(sz for p, sz in bench._tree_sizes(lake).items() if p not in before)
                            walks[name] += time.perf_counter() - t0
                return run

            dag = Dag()
            for name, layer, fn, deps, writes in jobs:
                dag.add(f"u{u}.{name}", wrap(name, layer, fn, writes), deps=[f"u{u}.{d}" for d in deps])
            t0 = time.perf_counter()
            run = dag.run(spark, max_parallel=self.ctx.nproc)
            makespan = time.perf_counter() - t0
        for q in spark.streams.active:  # a drain past its timeout keeps running
            q.stop()
        new_ckpts = set(glob.glob(ckpt_glob)) - ckpts
        records = []
        for name, layer, _, _, _ in jobs:
            full = f"u{u}.{name}"
            rec = OpRecord(name, u, ms=1e3 * walls.get(name, 0.0), exec_s=walls.get(name, 0.0))
            if full in run.failed:
                rec.ok, rec.err = False, _err(run.failed[full])
            elif full in run.skipped:
                rec.ok, rec.err = False, "skipped"
            elif name in PIPELINE_OPS:
                rec.build_ms = run.results[full]
                rec.exec_s -= rec.build_ms / 1e3
            if traced:
                with tr.overhead():
                    rec.counters = StageCounters(spark).group(full)
            records.append(rec)
        self.units.append({
            "u": u, "root": root, "lake": lake, "walls": walls, "walks": walks, "bytes": lake_bytes,
            "makespan": makespan,
            "deps": {name: deps for name, _, _, deps, _ in jobs},
            "results": {k.split(".", 1)[1]: v for k, v in run.results.items()},
            "batches": sum(len(glob.glob(os.path.join(c, "commits", "[0-9]*"))) for c in new_ckpts),
        })
        return records

    def check(self, spark, records: list[OpRecord]) -> None:
        want_batches = -(-len(self.event_files) // STREAM_FILES_PER_TRIGGER)
        for info in self.units:
            u, res = info["u"], info["results"]
            sink = os.path.join(info["root"], "sink")
            info["sink_rows"] = spark.read.parquet(sink).count() if os.path.isdir(sink) else 0
            if info["sink_rows"] != self.events_rows or info["batches"] != want_batches:
                _fail(records, "stream", f"partial drain: {info['sink_rows']}/{self.events_rows} rows, "
                                         f"{info['batches']}/{want_batches} commits", u)
            if "compact" in res:
                final = _checksum(lh.read(spark, info["lake"]))
                if final != self.want["final"]:
                    _fail(records, "compact", f"final table {final} != {self.want['final']}", u)
            for name in ("scan_point", "scan_range", "read_after_delete"):
                if name in res and res[name] != self.want[name]:
                    _fail(records, name, f"{res[name]!r} != {self.want[name]!r}", u)
        for name, err in parity_checks(self.eng, self.sf_dir, PIPELINE_OPS, self.ctx.nproc).items():
            _fail(records, name, err)

    def layer_metrics(self, records: list[OpRecord], exec_wall_s: float | None = None) -> dict:
        info = self.units[-1]
        out = super().layer_metrics(records, info["makespan"])
        for rec in records:
            if rec.name in PIPELINE_OPS and rec.ok:
                out[f"operators.{rec.name}.exec_s"] = rec.exec_s
                out[f"operators.{rec.name}.shuffle_write_bytes"] = rec.counters.get("shuffle_write_bytes", 0.0)
        walls = info["walls"]
        for verb in LAKE_VERBS:
            out[f"lakehouse.{verb}.ms"] = 1e3 * walls.get(verb, 0.0)
            out[f"lakehouse.{verb}.bytes"] = float(info["bytes"].get(verb, 0))
        out["lakehouse.write_amp"] = sum(info["bytes"].values()) / self.input_bytes
        version = info["results"].get("create")
        kept = total = 0
        if version is not None:
            for pred in (self.point_pred, self.range_pred):
                box = lh.compile_prune_box(pred)
                kept += len(lh.plan_files(info["lake"], predicates=box, version=version))
                total += len(lh.read_manifest(info["lake"], version)["files"])
        out["lakehouse.scan_where.files_read_ratio"] = kept / total if total else 0.0
        drain = walls.get("stream", 0.0)
        out["streaming.drain_s"] = drain
        out["streaming.rows_per_s"] = info.get("sink_rows", 0) / drain if drain else 0.0
        out["streaming.batches"] = float(info["batches"])
        out["orchestrator.job_ms"] = 1e3 * statistics.median(walls.values())
        out["orchestrator.parallelism"] = sum(walls.values()) / info["makespan"]
        finish: dict[str, float] = {}

        def path(name: str) -> float:
            # A job occupies its DAG slot for its wall plus the traced
            # run's lake-size walks, which are the benchmark's, not the
            # orchestrator's.
            if name not in finish:
                own = walls.get(name, 0.0) + info["walks"].get(name, 0.0)
                finish[name] = own + max((path(d) for d in info["deps"][name]), default=0.0)
            return finish[name]

        out["orchestrator.overhead_ms"] = 1e3 * (info["makespan"] - max(path(n) for n in info["deps"]))
        return out


WORKLOADS = {"interactive_sf001": Interactive, "pipeline_lake": Pipeline}
