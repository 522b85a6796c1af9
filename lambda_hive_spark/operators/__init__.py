"""Operator modules — importing this package registers every op from
SURVEY.md §2 into `lambda_hive_spark.registry`.

Import order IS registration order. The driver's bounded correctness
window grades ungraded ops in registration order EXCEPT that the
oldest never-graded backlog (windows/streams/UDx/TPC-H/LSH) is pinned
explicitly to the front by `__spark_entry__._BACKLOG_FIRST` —
registration order alone cannot express op age once later rounds add
ops to early-registering modules."""

from lambda_hive_spark.operators import (  # noqa: F401
    advagg,
    aggregates,
    analytics,
    extras,
    functions,
    functions2,
    joins,
    llm,
    maintenance,
    misc_agg,
    multimodal,
    pipeline,
    relational,
    scans,
    setops,
    sorts,
    stats,
    streams,
    tpch,
    udx,
    windows,
    timeseries,
    tpch_full,
    training,
    profiling,
    warehouse,
    quality,
    sketches,
    intervals,
    graph,
    spark4,
    lake,
    retrieval,
    orchestration,
    lakesql_ops,
)
