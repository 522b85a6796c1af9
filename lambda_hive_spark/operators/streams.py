"""Streaming operators (SURVEY.md §2.9) — registered surface.

Each op applies a mode-agnostic plan builder from
`lambda_hive_spark.streaming.plans` to the batch `events` table, so
the driver's DuckDB gate hash-checks the *semantics*; the identical
builders run as true Structured Streaming queries in
tests/test_streaming.py. Ops that inherently require a streaming
runtime (`scan_stream`, `stream_watermark`, `stream_sink`) drain a
real availableNow query (`core.drain`) inside the op and return the
materialized result.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark import lakehouse as lh
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op
from lambda_hive_spark.streaming import core, plans


@op("scan_stream", oracle="SELECT * FROM events", tags=("side_effect",))
def scan_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` consumed as an unbounded file-source stream, drained
    with availableNow into a (test-only) memory sink. The oracle
    checks the stream delivered every row exactly once."""
    stream = core.events_stream(spark, core.landing_dir(sf_dir))
    return core.run_available_now(stream)


@op(
    "stream_tumbling",
    tags=("side_effect",),
    oracle="""
SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute counts (batch mode of plans.tumbling)."""
    return plans.tumbling(table(spark, sf_dir, "events"))


@op(
    "stream_sliding",
    tags=("side_effect",),
    oracle="""
SELECT time_bucket(INTERVAL '5 minutes', ts) - k * (INTERVAL '5 minutes') AS w_start,
       event_type, COUNT(*) AS n
FROM events, UNNEST([0, 1]) AS t(k)
GROUP BY 1, 2
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-min/5-min counts; the oracle expands each event into
    its two covering windows explicitly."""
    return plans.sliding(table(spark, sf_dir, "events"))


@op(
    "stream_session",
    tags=("side_effect",),
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes'
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS sess_start,
       MAX(ts) + INTERVAL '30 minutes' AS sess_end, COUNT(*) AS n_events
FROM sess GROUP BY user_id, sess_id
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap session windows; the oracle is the classic
    gaps-and-islands rewrite (lag → new-session flag → running sum)."""
    return plans.session(table(spark, sf_dir, "events"))


@op("stream_dedup", oracle="SELECT * FROM events", tags=("side_effect",))
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once dedup by event_id: the op feeds the events table
    twice (simulating at-least-once redelivery) through plans.dedup;
    the oracle asserts the original table comes back exactly."""
    ev = table(spark, sf_dir, "events")
    return plans.dedup(ev.unionByName(ev))


@op(
    "stream_watermark",
    tags=("side_effect",),
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events)
SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, event_type, COUNT(*) AS n
FROM events, wm
WHERE time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' <= wm.w
GROUP BY 1, 2
""",
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True streaming watermarked aggregation in append mode — only
    windows the event-time watermark has closed are emitted; trailing
    open windows are withheld (their state stays pending).

    Batch-twin oracle (VERDICT r3 item 2): with the single-file
    landing layout the final watermark is deterministic — max(ts) −
    delay — and availableNow's closing no-data batch flushes every
    window the frontier passed, so the emitted set is EXACTLY the
    batch-computable {windows : w_end ≤ max(ts) − 10min} (verified
    empirically row-for-row at sf0.001/0.01). The oracle recomputes
    that set; a watermark that ever leaks an open window or drops a
    closed one hash-mismatches."""
    stream = core.events_stream(spark, core.landing_dir(sf_dir))
    return core.run_available_now(plans.watermarked_counts(stream), mode="append")


@op(
    "stream_stateful",
    tags=("side_effect",),
    oracle="""
WITH last_err AS (
  SELECT user_id, MAX(ts) AS let FROM events WHERE event_type = 'error' GROUP BY user_id
)
SELECT e.user_id, COUNT(*) AS n_events,
       COUNT(*) FILTER (WHERE e.event_type = 'purchase'
                        AND (l.let IS NULL OR e.ts > l.let)) AS purchases_since_error
FROM events e LEFT JOIN last_err l USING (user_id)
GROUP BY e.user_id
""",
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running state (purchases since last error) — batch twin
    of the applyInPandasWithState streaming op (tests run both and
    compare). The oracle re-derives the final state relationally."""
    return plans.stateful_batch(table(spark, sf_dir, "events"))


@op(
    "stream_join",
    tags=("side_effect",),
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, e.value, p.first_ts, p.lifetime_events
FROM events e
JOIN (SELECT user_id, MIN(ts) AS first_ts, COUNT(*) AS lifetime_events
      FROM events GROUP BY user_id) p USING (user_id)
""",
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join against a broadcast per-user
    profile dim (batch mode of plans.enrich)."""
    ev = table(spark, sf_dir, "events")
    return plans.enrich(ev, plans.user_profile(ev))


@op(
    "stream_stream_join",
    tags=("side_effect",),
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, e.event_id AS error_id,
       p.ts AS p_ts, e.ts AS e_ts
FROM events p JOIN events e
  ON p.user_id = e.user_id AND p.event_type = 'purchase' AND e.event_type = 'error'
 AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL '30 minutes'
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream-stream join (errors within
    30 min after each purchase, per user); the true streaming run with
    watermarks on both sides is tested in tests/test_streaming.py."""
    ev = table(spark, sf_dir, "events")
    return plans.purchase_error_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "error"),
    )


@op("stream_sink", oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type", tags=("side_effect",))
def stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once parquet sink: stream events → date-partitioned
    parquet via the streaming committer, then read the sink back and
    aggregate — the oracle checks nothing was lost or duplicated."""
    out = core.scratch_dir("sink")
    core.to_parquet_sink(core.events_stream(spark, core.landing_dir(sf_dir)), out)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@op(
    "stream_upsert_foreachbatch",
    oracle="""
SELECT user_id, event_id, value
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
         ) AS rn
  FROM events
)
WHERE rn = 1
""",
    tags=("side_effect",),
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE/upsert via foreachBatch: the micro-batches'
    latest event per user (ties on the µs timestamp broken by
    event_id) is kept in a lake table keyed on user_id
    (plans.run_upsert): the first batch creates it, and each later
    batch looks up the stored rows of its key range and commits the
    rows that beat them with the lake's deletion-vector MERGE. The
    oracle recomputes the same latest-per-user state relationally, so
    the gate proves the stream upsert lost/duplicated nothing.

    Scale notes: each commit is one manifest publish, so readers never
    see a missing or partial state. A batch reads and DV-stamps only
    the state files its key range meets, which is fewer than all of
    them only on a key-clustered state fed key-local batches. Ranks on
    µs-truncated event time to match the ns→µs stream source
    conversion (streaming/core.py module doc)."""
    stream = core.events_stream(spark, core.landing_dir(sf_dir))
    state_path = plans.run_upsert(stream, core.scratch_dir("upsert-state"))
    return lh.read(spark, state_path).select("user_id", "event_id", "value")


@op(
    "stream_progress_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS total_input_rows,
       TRUE AS batches_ok,
       TRUE AS state_ok,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_groups
FROM events
""",
    tags=("side_effect",),
)
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: run a windowless streaming aggregate
    to completion and report the query's own progress telemetry —
    the numbers an on-call engineer watches to catch lag and state
    blow-up. Oracle contract (VERDICT r3 item 2): telemetry SHAPE is
    engine-internal, but its accounting invariants are not — total
    numInputRows must equal the exact source row count (exactly-once
    accounting through the file source's checkpointed file log), at
    least one non-empty batch must have run, and the state store must
    hold exactly one row per group. Broken exactly-once delivery or
    state leakage hash-mismatches the TRUE row."""
    import uuid as _uuid

    stream = core.events_stream(
        spark, core.landing_dir(sf_dir), max_files_per_trigger=1
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = f"prog_{_uuid.uuid4().hex[:10]}"
    try:
        query = core.drain(
            agg.writeStream.format("memory").queryName(name).outputMode("complete"),
            "stream_progress_metrics",
            core.scratch_dir("prog_ckpt"),
        )
        n_types = spark.table(name).count()
    finally:
        spark.catalog.dropTempView(name)
    progress = query.recentProgress
    total_in = sum(int(p["numInputRows"]) for p in progress)
    n_batches = len([p for p in progress if int(p["numInputRows"]) > 0])
    state_rows = 0
    for p in progress:
        for so in p.get("stateOperators", []):
            state_rows = max(state_rows, int(so.get("numRowsTotal", 0)))
    return spark.createDataFrame(
        [(total_in, n_batches >= 1, state_rows == n_types, n_types)],
        "total_input_rows long, batches_ok boolean, state_ok boolean, n_groups long",
    )


@op(
    "stream_sink_lake",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
""",
    tags=("side_effect",),
)
def stream_sink_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink into the ACID lake table layer:
    events stream via foreachBatch into lakehouse.append_idempotent,
    which records (writer_id → batch_id) in the manifest's txns ledger
    atomically with the batch's files. The stream is then REPLAYED
    from a FRESH checkpoint — the worst-case duplicate-delivery
    scenario (total checkpoint loss): every micro-batch redelivers
    with the same ids, and every one must no-op against the ledger.
    The oracle is the plain events projection, so a single duplicated
    or lost row hash-fails the gate. The in-op assertion pins that the
    replay committed NO new version (not merely that values dedup).

    Scale: the ledger adds O(writers) bytes to each manifest — nothing
    per-row; batches land as ordinary appends (no read-modify-write),
    so sink throughput is the parquet write itself. This is the
    pattern that replaces stream_sink's file-sink checkpoint coupling:
    dedup state lives in the TABLE, so any number of restarts, from
    any checkpoint state, cannot double-land a batch."""
    cols = ("event_id", "user_id", "event_type", "value")
    tbl = core.scratch_dir("lakesink")
    seed = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, value double"
    ).repartition(1)
    lh.create(spark, tbl, seed, key="event_id")

    def run_pass() -> None:
        stream = core.events_stream(spark, land).select(*cols)
        core.drain(
            stream.writeStream.foreachBatch(
                lambda batch, bid: lh.append_idempotent(
                    batch.sparkSession, tbl, batch, writer_id="lakesink", batch_id=bid
                )
            ),
            "stream_sink_lake",
            core.scratch_dir("lakesink-ckpt"),
        )

    land = core.landing_dir(sf_dir)
    run_pass()
    v_first = lh.current_version(tbl)
    run_pass()  # fresh checkpoint: full redelivery — must all no-op
    assert lh.current_version(tbl) == v_first, "replayed batch committed"
    return lh.read(spark, tbl)
