"""Operator registry — the engine's only engine-owned structure
besides the orchestrator DAG (SURVEY.md §3).

Each operator from SURVEY.md §2 registers here exactly once with:
- a Spark callable `(spark, sf_dir) -> DataFrame` (the declarative
  plan; Catalyst owns optimization), and
- optionally a DuckDB-dialect oracle SQL string used by the driver's
  t2 hash-compare gate (`__spark_entry__.py`). Ops without an oracle
  get the weaker rows-only check — used sparingly (approx/LSH/ids).

The registered callable is wrapped to pin runtime parity confs
(UTC timezone) because the driver hands us ITS SparkSession.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_OPS: dict[str, Op] = {}

# Session-level plan cache (prepared-statement behavior): repeat calls
# of the same pure op on the same session + corpus return the SAME
# DataFrame object, so Spark reuses its analyzed/optimized/physical
# plan (QueryExecution is memoized per DataFrame) and the driver-side
# plan build (py4j round-trips + Catalyst analysis, the fixed ~40-150
# ms floor under every sub-second query) is paid once. Execution is
# NOT cached — every action re-runs the physical plan on current
# files. Keyed like io._TABLE_CACHE: applicationId scopes to the
# session, the corpus stamp (per-entry mtime+size) self-invalidates
# when a fixture or scratch corpus is regenerated in-process.
# Side-effect ops (lake commits, stream drains, sink writes) are
# never cached — their fn() body must re-run per call.
#
# BOUNDED (LRU): an executed DataFrame pins its broadcast relations
# on the driver heap (ContextCleaner only reclaims a broadcast once
# its owning plan is unreachable), so an unbounded cache across a
# full-registry sweep at sf0.1 accumulated every op's broadcast
# tables until BroadcastExchange failed with "Not enough memory to
# build and broadcast". Real engines bound their prepared-statement
# caches for exactly this reason. The repeat-call patterns the cache
# exists for (bench's median-of-N loop, a driver re-invoking the same
# query) are back-to-back, so a small LRU serves them at full hit
# rate while a 320-op sweep evicts continuously and pins at most
# _PLAN_CACHE_SIZE plans.
from collections import OrderedDict

_PLAN_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
_PLAN_CACHE_SIZE = 32


def _corpus_stamp(sf_dir: str) -> tuple:
    import os

    try:
        entries = sorted(os.scandir(sf_dir), key=lambda e: e.name)
    except OSError:
        return ()
    out = []
    for e in entries:
        if not e.name.endswith(".parquet"):
            continue
        try:
            st = e.stat()
            out.append((e.name, st.st_mtime_ns, st.st_size))
        except OSError:
            out.append((e.name, 0, 0))
    return tuple(out)


def op(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver calls ops on ITS session — pin the parity/perf
            # confs (UTC, excluded optimizer rules) at every call.
            from lambda_hive_spark.session import tune_runtime

            tune_runtime(spark)
            if "side_effect" in tags:
                return fn(spark, sf_dir)
            key = (
                spark.sparkContext.applicationId,
                name,
                sf_dir,
                _corpus_stamp(sf_dir),
            )
            hit = _PLAN_CACHE.get(key)
            if hit is not None:
                _PLAN_CACHE.move_to_end(key)
                return hit
            df = fn(spark, sf_dir)
            _PLAN_CACHE[key] = df
            while len(_PLAN_CACHE) > _PLAN_CACHE_SIZE:
                _PLAN_CACHE.popitem(last=False)
            return df

        if name in _OPS:
            raise ValueError(f"duplicate op registration: {name}")
        _OPS[name] = Op(name, wrapped, oracle, tuple(tags), (fn.__doc__ or "").strip())
        return wrapped

    return deco


def all_ops() -> dict[str, Op]:
    """Import operator modules (triggering registration) and return the
    full registry."""
    import lambda_hive_spark.operators  # noqa: F401  (side-effect import)

    return dict(_OPS)


def op_source_hash(o: Op) -> str:
    """Stable fingerprint of an op's implementation: sha256 over the
    registered function's source plus its oracle SQL. Used by the
    GRADED.json manifest so a driver-graded op whose implementation
    later changes is treated as ungraded and re-queued for grading
    (VERDICT r2 item 7 — stale-evidence guard)."""
    import hashlib
    import inspect

    fn = inspect.unwrap(o.fn)
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = repr(fn)
    payload = src + "\n--oracle--\n" + (o.oracle or "")
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]
