"""Mode-agnostic streaming plan builders (SURVEY.md §2.9).

Each function takes an `events`-shaped DataFrame — batch OR streaming,
the caller chooses — and returns the transformed DataFrame. Batch mode
feeds the driver's DuckDB hash-gate (operators/streams.py); streaming
mode runs under an availableNow trigger in tests/test_streaming.py.
One plan, two execution modes: Spark's unified semantics guarantee the
batch result equals the streaming result once all data has arrived
(watermark permitting), which is exactly what the tests assert.

Scale notes per builder are inline; the common ones: windowed
aggregations shuffle on (window, key) — bounded state because the
watermark evicts closed windows; `dropDuplicates` state is likewise
watermark-bounded. Without a watermark those operators would
accumulate state forever at 100 TB — every streaming test runs them
watermarked.

The per-user state machine is one fold (`_fold`) shared by the batch
twin and both streaming operators; `run_upsert` keeps its state in a
lake table, one deletion-vector MERGE commit per micro-batch.
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lambda_hive_spark import lakehouse as lh
from lambda_hive_spark.streaming import core

STATEFUL_SCHEMA = "user_id long, n_events long, purchases_since_error long"


def tumbling(events: DataFrame) -> DataFrame:
    """Per-5-minute event counts by type. State = one row per open
    window; map-side partial aggregation before the (window, type)
    shuffle, so executor traffic is windows, not events."""
    return (
        events.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def sliding(events: DataFrame) -> DataFrame:
    """10-minute windows advancing every 5 — each event lands in
    exactly two windows (Spark expands window instances before the
    aggregate, so cost is 2× rows, not 2× passes)."""
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def session(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.
    `session_window` runs identically in batch and streaming (Spark 4
    merges overlapping candidate sessions in the state store);
    session end = last event + gap."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )


def dedup(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Exactly-once by event_id. Streaming callers pass a watermark and
    get `dropDuplicatesWithinWatermark`, whose seen-ids state IS
    evicted once the watermark passes an id's event time — plain
    `dropDuplicates(['event_id'])` would keep state for every distinct
    id forever even under a watermark, because the dedup key set does
    not include the event-time column (the 100 TB failure mode).
    Duplicates are guaranteed dropped when they arrive within the
    watermark delay of the first occurrence — the delivery-retry window
    a log replayer actually produces. Batch callers leave watermark
    None and get exact global dedup."""
    if watermark is not None:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def watermarked_counts(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Tumbling counts tolerating `delay` of event-time lateness.
    Append mode emits each window exactly once, when the watermark
    passes its end; state for emitted windows is evicted (bounded
    state at scale). Late rows merge into still-open window state
    (verified behavior of this Spark build — the watermark gates
    emission and eviction, asserted in tests/test_streaming.py)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def enrich(events: DataFrame, profile: DataFrame) -> DataFrame:
    """Stream-static join: enrich each event with a per-user profile
    dim. The static side is broadcast — re-resolved per micro-batch,
    no shuffle of the stream side at any scale."""
    return events.join(F.broadcast(profile), "user_id", "inner").select(
        "event_id", "user_id", "event_type", "value", "first_ts", "lifetime_events"
    )


def user_profile(events_batch: DataFrame) -> DataFrame:
    """The static dim for `enrich`: per-user first-seen ts + lifetime
    count (bounded by |users|, broadcastable)."""
    return events_batch.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.count("*").alias("lifetime_events")
    )


def purchase_error_join(
    purchases: DataFrame, errors: DataFrame, window: str = "30 minutes"
) -> DataFrame:
    """Stream-stream (or batch-batch) inner join: each purchase matched
    to the same user's errors within `window` after it. In streaming
    mode both inputs must be watermarked and the time-range condition
    is what lets Spark evict buffered rows — without it, stream-stream
    join state grows forever (the 100 TB failure mode)."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    e = errors.select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    return p.join(
        e,
        (p.user_id == e.e_user)
        & (e.e_ts > p.p_ts)
        & (e.e_ts <= p.p_ts + F.expr(f"INTERVAL {window}")),
        "inner",
    ).select("purchase_id", "user_id", "error_id", "p_ts", "e_ts")


def _fold(
    chunks: Iterable[pd.DataFrame], n_events: int = 0, purchases: int = 0
) -> tuple[int, int]:
    """The per-user state transition, shared by the batch twin and both
    streaming operators: from the carried (n_events,
    purchases_since_error), count the group's rows and fold their
    event types in ts order, counting purchases and resetting on each
    error. The chunks are concatenated before the one sort, so a group
    delivered in any number of Arrow chunks, in any order, folds as one."""
    rows = pd.concat(list(chunks)).sort_values("ts")
    for et in rows["event_type"]:
        if et == "error":
            purchases = 0
        elif et == "purchase":
            purchases += 1
    return n_events + len(rows), purchases


def _state_row(user_id, state: tuple[int, int]) -> pd.DataFrame:
    """One STATEFUL_SCHEMA output row."""
    return pd.DataFrame(
        [(user_id, *state)], columns=["user_id", "n_events", "purchases_since_error"]
    )


def stateful_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the streaming stateful op: per-user running state
    (purchases since the last error), computed with Arrow-batched
    `applyInPandas` — one group per user, no driver collect."""
    return events.groupBy("user_id").applyInPandas(
        lambda key, pdf: _state_row(key[0], _fold([pdf])), STATEFUL_SCHEMA
    )


def stateful_stream(events: DataFrame, timeout_conf: str = "NoTimeout") -> DataFrame:
    """True streaming stateful operator via `applyInPandasWithState`:
    the per-user (n_events, purchases_since_error) tuple lives in the
    state store across micro-batches. State size = O(|users|), not
    O(events) — the 100 TB-safe shape.

    `timeout_conf`: "NoTimeout" (default) admits every row, however
    late; "EventTimeTimeout" (requires a watermark on the input)
    additionally makes Spark DROP rows behind the watermark before the
    state function — verified empirically on this Spark 4.1 build: an
    input watermark alone (NoTimeout) does NOT late-filter this
    operator, the timeoutConf is what arms the filter. The update
    function registers no timeouts, so no timed-out invocations occur
    either way."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        folded = _fold(pdfs, *(state.get if state.exists else (0, 0)))
        state.update(folded)
        yield _state_row(key[0], folded)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STATEFUL_SCHEMA,
        stateStructType="n_events long, purchases_since_error long",
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout_conf),
    )


def stateful_stream_watermarked(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """`stateful_stream` behind an event-time watermark + event-time
    timeout: rows arriving behind the watermark are DROPPED before the
    state function ever sees them — the knob that bounds how long the
    state store must keep a group hot for stragglers at 100 TB.
    Without it (plain `stateful_stream`) every late row is admitted
    and state can never be safely evicted.

    Two build-verified semantics the tests pin (tests/test_streaming.py):
    (1) the late filter is armed by EventTimeTimeout, NOT by the
    watermark alone — withWatermark + NoTimeout admits everything;
    (2) the watermark visible to micro-batch N is computed from data
    through batch N-2 (one batch more lag than the naive reading):
    batch 2 still runs unfiltered at the initial epoch watermark, and
    batch 3 is the first one filtered, at max(ts through batch 2) −
    delay. The admitted/dropped split is therefore deterministic given
    the file arrival order."""
    return stateful_stream(
        events.withWatermark("ts", delay), timeout_conf="EventTimeTimeout"
    )


def stateful_stream_tws(events: DataFrame) -> DataFrame:
    """Same per-user state machine as `stateful_stream`, on Spark 4's
    newest stateful API (`transformWithStateInPandas` + a
    StatefulProcessor with typed ValueState). The state store schema
    is declared per-variable, which is what enables state TTL and
    schema evolution at scale. NOTE: the TWS Python runtime requires
    `google.protobuf` (not in this container), so the test for this
    builder auto-skips here; `stateful_stream` (applyInPandasWithState)
    is the covered twin."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    class PurchasesSinceError(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [StructField("n_events", LongType()), StructField("purchases", LongType())]
            )
            self._state = handle.getValueState("purchase_state", schema)

        def handleInputRows(self, key, rows, timerValues):
            carried = self._state.get() if self._state.exists() else (0, 0)
            folded = _fold(rows, *carried)
            self._state.update(folded)
            yield _state_row(key[0], folded)

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PurchasesSinceError(),
        outputStructType=STATEFUL_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_upsert(stream: DataFrame, state_dir: str, timeout_s: int = 300) -> str:
    """foreachBatch MERGE runner: keep the latest event per user (µs
    ts, then event_id) in a lake table keyed on user_id at
    `<state_dir>/state` and return its path. The first micro-batch's
    latest row per user creates the table. Each later batch's latest
    rows are compared with the stored rows of the batch's key range
    (a `lakehouse.scan`, whose manifest stats admit only the files
    that range touches) and the rows that beat them commit in one
    deletion-vector MERGE, which appends them as one file. A batch
    with no winning row, such as a replay from a fresh checkpoint,
    commits nothing (latest-wins is idempotent: no batch ledger).
    Once created, the table is never missing: readers see one whole
    version or the next.

    The lookup and the MERGE's match scan read only the files whose
    key range meets the batch's, so a batch costs the files its keys
    touch only when the state is key-clustered and the batch
    key-local; batches of users spread over the whole key range read
    every file. The state gains one file per committing batch until
    `lakehouse.compact` rewrites it."""
    cols = ["user_id", "event_id", "value", "ts"]
    state = os.path.join(state_dir, "state")
    spark = stream.sparkSession
    newest = F.struct("ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(*cols).withColumn("rn", F.row_number().over(w))
        batch = batch.filter(F.col("rn") == 1).drop("rn")
        if not lh.current_version(state):
            lh.create(spark, state, batch.coalesce(1), key="user_id")
            return
        # Both frames are checkpointed: the batch feeds the key range
        # and the lookup, the winners the check and both MERGE jobs.
        batch = batch.localCheckpoint()
        lo, hi = batch.agg(F.min("user_id"), F.max("user_id")).first()
        if lo is None:
            return
        stored = lh.scan(spark, state, key_min=lo, key_max=hi).select(
            "user_id", newest.alias("stored")
        )
        wins = (
            batch.join(stored, "user_id", "left")
            .filter(F.col("stored").isNull() | (newest > F.col("stored")))
            .drop("stored")
            .localCheckpoint()
        )
        if not wins.isEmpty():
            lh.merge_upsert(spark, state, wins.coalesce(1), deletion_vectors=True)

    core.drain(
        stream.writeStream.foreachBatch(merge_batch),
        "run_upsert",
        os.path.join(state_dir, "ckpt"),
        timeout_s,
    )
    return state
