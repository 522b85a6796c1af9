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
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _stateful_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Shared per-user state transition: fold events in ts order,
    counting purchases and resetting on each error."""
    pdf = pdf.sort_values("ts")
    purchases = 0
    for et in pdf["event_type"]:
        if et == "error":
            purchases = 0
        elif et == "purchase":
            purchases += 1
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "purchases_since_error": [purchases],
        }
    )


def stateful_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the streaming stateful op: per-user running state
    (purchases since the last error), computed with Arrow-batched
    `applyInPandas` — one group per user, no driver collect."""
    return events.groupBy("user_id").applyInPandas(_stateful_pdf, STATEFUL_SCHEMA)


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
        n_events, purchases = state.get if state.exists else (0, 0)
        rows = pd.concat(list(pdfs)).sort_values("ts")
        n_events += len(rows)
        for et in rows["event_type"]:
            if et == "error":
                purchases = 0
            elif et == "purchase":
                purchases += 1
        state.update((n_events, purchases))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "purchases_since_error": [purchases],
            }
        )

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
            n_events, purchases = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                pdf = pdf.sort_values("ts")
                n_events += len(pdf)
                for et in pdf["event_type"]:
                    if et == "error":
                        purchases = 0
                    elif et == "purchase":
                        purchases += 1
            self._state.update((n_events, purchases))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n_events],
                    "purchases_since_error": [purchases],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PurchasesSinceError(),
        outputStructType=STATEFUL_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_upsert(stream: DataFrame, state_dir: str, timeout_s: int = 300) -> str:
    """foreachBatch MERGE runner: maintain a latest-event-per-user
    parquet state table from an events stream (read-merge-swap per
    micro-batch; ties on ts broken by event_id). Returns the state
    table path. The swap is two renames, so a concurrent reader sees
    either the old or the new state, never a partial write. At 100 TB
    the same batch plan targets a transactional MERGE instead."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    state_path = os.path.join(state_dir, "state")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        cols = ["user_id", "event_id", "value", "ts"]
        incoming = batch_df.select(*cols)
        if os.path.isdir(state_path):
            incoming = sess.read.parquet(state_path).select(*cols).unionByName(incoming)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        merged = (
            incoming.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        staging = state_path + f".staging-{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        old = state_path + f".old-{batch_id}"
        if os.path.isdir(state_path):
            os.rename(state_path, old)
        os.rename(staging, state_path)
        if os.path.isdir(old):
            shutil.rmtree(old)

    from lambda_hive_spark.streaming import core as _core

    _core.drain(
        stream.writeStream.foreachBatch(merge_batch),
        "run_upsert",
        os.path.join(state_dir, "ckpt"),
        timeout_s,
    )
    return state_path
