"""User-facing engine facade — the single import a reference user
switches to:

    from lambda_hive_spark.api import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.01")   # or Engine(spark=...)
    eng.table("orders")                  # DataFrame over a fixture table
    eng.sql("SELECT count(*) FROM lineitem")       # SQL frontend
    eng.run("agg_hash")                  # any registered operator by name
    eng.ops()                            # the full operator inventory
    eng.stream_events(landing_dir)       # unbounded events source
    eng.dag()                            # workflow-DAG builder
    eng.lake(path)                       # ACID lake table handle: every
    #   lakehouse verb bound to one table, e.g. .create(df, key)
    #   .merge_upsert(updates, deletion_vectors=True) .update_where(...)
    #   .read(version=N) .read(ref="prod") .refs() .clone_to(target)
    #   .compact() .vacuum() .history()  (with n_files/n_rows)
    eng.lake_sql({"t": path})            # SQL DML/time-travel surface
    #   .sql("MERGE INTO t USING ...") .sql("UPDATE t SET ...")
    #   .sql("SELECT ... FROM t VERSION AS OF 3")

Everything is a thin delegation to the modules that own the logic —
the facade adds discoverability, not behavior.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import DataFrame, SparkSession

from lambda_hive_spark import io, lakehouse
from lambda_hive_spark.orchestrator import Dag
from lambda_hive_spark.registry import Op, all_ops
from lambda_hive_spark.session import get_spark, tune_runtime


class Engine:
    """A session + a fixture directory + the operator registry."""

    def __init__(self, sf_dir: str, spark: SparkSession | None = None) -> None:
        self.sf_dir = sf_dir
        self.spark = tune_runtime(spark) if spark is not None else get_spark()
        self._views_registered = False

    # -- data access ---------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return io.table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """SQL over the ten fixture tables (views registered lazily)."""
        if not self._views_registered:
            io.register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(query)

    # -- operators -----------------------------------------------------
    def ops(self) -> dict[str, Op]:
        return all_ops()

    def run(self, op_name: str) -> DataFrame:
        ops = all_ops()
        if op_name not in ops:
            raise KeyError(
                f"unknown op {op_name!r}; known ops: {', '.join(sorted(ops))}"
            )
        return ops[op_name].fn(self.spark, self.sf_dir)

    def oracle(self, op_name: str) -> str | None:
        """The DuckDB-dialect twin of an op (None for rows-only ops)."""
        return all_ops()[op_name].oracle

    def explain(self, op_name: str, allow_side_effects: bool = False) -> str:
        """The executed physical plan of an op — the review artifact
        for every would-this-scale question.

        Ops tagged ``side_effect`` (sinks, bucketed-table builders,
        compaction, orchestrators, streaming runs) *execute writes* to
        produce their result, so explaining them is not read-only;
        refuse unless the caller opts in with ``allow_side_effects``."""
        if "side_effect" in all_ops()[op_name].tags and not allow_side_effects:
            raise ValueError(
                f"op {op_name!r} writes tables/files when run; "
                "explain(op, allow_side_effects=True) to accept that"
            )
        df = self.run(op_name)
        return df._jdf.queryExecution().executedPlan().toString()

    def cache_table(self, name: str) -> DataFrame:
        """Register + cache a fixture table (InMemoryTableScan on
        subsequent reads — for dims reused across many queries)."""
        io.table(self.spark, self.sf_dir, name).createOrReplaceTempView(name)
        self.spark.catalog.cacheTable(name)
        return self.spark.table(name)

    # -- streaming / orchestration ------------------------------------
    def stream_events(self, landing_dir: str | None = None, **kwargs) -> DataFrame:
        from lambda_hive_spark.streaming import core

        return core.events_stream(
            self.spark, landing_dir or core.landing_dir(self.sf_dir), **kwargs
        )

    def dag(self) -> Dag:
        return Dag()

    # -- lakehouse table layer ----------------------------------------
    def catalog(self, root: str):
        """Name catalog over lake tables with atomic multi-table
        pointer-swap transactions (catalog.py): create_table/drop/
        rename, snapshot-consistent reads across tables, and
        Transaction (stage per-table commits, publish all pointers in
        one catalog commit — first committer wins per table)."""
        from lambda_hive_spark.catalog import Catalog

        return Catalog(root)

    def lake(self, path: str) -> "LakeTable":
        """Handle to an ACID lake table at `path` that exposes every
        lakehouse.py verb bound to this session and path: versioned
        commits, snapshot reads / time travel, stats-pruned and DV
        MERGE/UPDATE/DELETE, compaction, vacuum, and history(), whose
        entries report each snapshot's n_files/n_rows."""
        return LakeTable(self.spark, path)

    def lake_sql(
        self,
        tables: dict[str, str] | None = None,
        catalog_root: str | None = None,
    ):
        """SQL statement surface over lake tables (lake_sql.py):
        MERGE INTO / UPDATE / DELETE FROM / SELECT … VERSION AS OF
        <n | 'ref'> / RESTORE TABLE / DESCRIBE HISTORY / VACUUM /
        OPTIMIZE, each compiled onto the lakehouse verb that owns the
        semantics. Name resolution: the `tables` dict, then (if given)
        a Catalog root."""
        from lambda_hive_spark.lake_sql import LakeSQL

        return LakeSQL(self.spark, tables, catalog_root)


# The facade's own decisions about lakehouse verbs; everything else is
# lakehouse's signature, defaults and docstring, bound to one table.
_ALIASES = {"version": "current_version", "refs": "list_refs", "clone_to": "clone"}
_DEFAULTS = {"delete_where": {"prune": "auto"}, "update_where": {"prune": "auto"}}
# What a verb's leading parameters take from the handle. Public
# lakehouse functions that start any other way (compile_prune_box)
# are not table verbs.
_LEADS = {
    ("spark", "path"): ("spark", "path"),
    ("spark", "source"): ("spark", "path"),
    ("path",): ("path",),
}


def _lake_verbs() -> dict[str, tuple[str, ...]]:
    out = {}
    for name, fn in vars(lakehouse).items():
        if name.startswith("_") or not inspect.isfunction(fn):
            continue
        if fn.__module__ != lakehouse.__name__:
            continue  # imported helpers (urlparse, ...) are not verbs
        params = tuple(inspect.signature(fn).parameters)
        for lead, attrs in _LEADS.items():
            if params[: len(lead)] == lead:
                out[name] = attrs
                break
    return out


_VERBS = _lake_verbs()


class LakeTable:
    """Every lakehouse verb bound to one table: ``t.verb(*a, **kw)`` is
    ``lakehouse.verb(spark, path, *a, **kw)`` (``lakehouse.verb(path,
    ...)`` for the manifest-only verbs), with lakehouse's own signature,
    defaults and docstring. The facade adds only the ``_ALIASES`` names
    (``version``, ``refs``, ``clone_to``) and ``prune="auto"`` as the
    default of ``delete_where``/``update_where``."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def __getattr__(self, name: str):
        verb = _ALIASES.get(name, name)
        if verb not in _VERBS:
            raise AttributeError(f"{type(self).__name__!r} object has no attribute {name!r}")
        fn = getattr(lakehouse, verb)
        bound = functools.partial(
            fn, *(getattr(self, a) for a in _VERBS[verb]), **_DEFAULTS.get(verb, {})
        )
        bound.__doc__ = fn.__doc__
        return bound

    def __dir__(self) -> list[str]:
        return [*super().__dir__(), *_VERBS, *_ALIASES]
