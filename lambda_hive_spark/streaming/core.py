"""Streaming source/sink plumbing over the `events` fixture.

The `events` table is the append-only stream (SURVEY.md §1.1): at
100 TB this is a date-partitioned landing directory that files arrive
into continuously; Spark's file source tracks arrivals exactly-once
via the checkpoint's file log. Locally we simulate arrival by
symlinking (or splitting) the fixture parquet into a scratch landing
dir — the fixture itself is read-only.

Timestamp note (FIXTURES.md): `events.ts` has shipped as parquet
TIMESTAMP(NANOS) (old corpus: Spark 4 only reads it as long via
`nanosAsLong`) and as timestamp[us] NTZ (current corpus). Streaming
sources must declare their schema up front, so the source peeks at one
batch footer to pick the matching raw schema, then applies the same
normalization as the batch loader in `io.py` — batch and stream plans
see the same TimestampType column either way.
"""

from __future__ import annotations

import hashlib
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from lambda_hive_spark import scratch

# Fixed by the parquet footers (FIXTURES.md) — streaming sources must
# declare their schema up front; never inferred. `ts` is layout-
# dependent (module doc), so the source builds the raw schema from one
# batch footer peek at start-up rather than pinning either layout.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # current µs layout
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_raw_schema(
    spark: SparkSession, path: str, fixture_path: str | None = None
) -> T.StructType:
    """The raw stream schema matching the on-disk layout: one footer
    peek via the batch reader (driver-side metadata only, no scan).
    An EMPTY landing dir at declaration time falls back to the fixture
    parquet's footer (always present, authoritative layout — ADVICE r3
    item 2: a hardcoded fallback schema would misread an old-layout
    corpus whose files land after the stream is declared), and only
    then to the pinned current-layout schema."""
    for p in (path, fixture_path):
        if p is None:
            continue
        try:
            return spark.read.parquet(p).schema
        except Exception:  # empty/missing dir at declaration time
            continue
    return EVENTS_RAW_SCHEMA


def scratch_dir(name: str) -> str:
    """`<scratch root>/streaming/<name>`, wiped on each call: one sink,
    state or checkpoint dir per stream op (lambda_hive_spark/scratch.py)."""
    return scratch.fresh(os.path.join("streaming", name))


def _digest(path: str) -> str:
    return hashlib.sha256(os.path.abspath(path).encode()).hexdigest()[:8]


_LANDING_LOCK = threading.Lock()  # stream ops on DAG threads share a farm


def landing_dir(sf_dir: str) -> str:
    """A directory the file-stream source can watch, containing the
    events fixture (symlinks — zero copy, fixture stays read-only).
    The file source does not descend into subdirectories, so an
    `events.parquet` that is a directory of part files (the bench
    scale corpora) lands as one symlink per part file.

    One farm per corpus (keyed on its absolute path: corpora may share
    a basename), rebuilt only when the fixture's stamp changes, so a
    stream declared over it earlier keeps its files."""
    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    land = scratch.named(os.path.join("streaming", f"landing-{_digest(sf_dir)}"))
    with _LANDING_LOCK:
        if not scratch.scratch_stale(land, src):
            return land
        scratch.clear_scratch(land)
        os.makedirs(land)
        if not os.path.isdir(src):
            os.symlink(src, os.path.join(land, "events.parquet"))
        else:
            for name in sorted(os.listdir(src)):
                if name.endswith(".parquet") and not name.startswith(("_", ".")):
                    os.symlink(os.path.join(src, name), os.path.join(land, name))
        scratch.mark_scratch_fresh(land, src)
    return land


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    fixture_path: str | None = None,
) -> DataFrame:
    """`events` as an unbounded source: readStream over a landing dir.

    `max_files_per_trigger` bounds each micro-batch (arrival-order
    replay in tests); None lets availableNow drain everything at once.
    `fixture_path` is the authoritative-layout parquet used for schema
    declaration when the landing dir is still empty (tests that land
    files after declaring the stream).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_raw_schema(spark, path, fixture_path))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    from lambda_hive_spark.io import _normalize_timestamps

    return _normalize_timestamps(df)


def drain(
    writer: DataStreamWriter, name: str, checkpoint: str, timeout_s: float = 300
) -> StreamingQuery:
    """Start `writer` with its checkpoint at `checkpoint` over all
    currently available data (trigger availableNow) and wait for it to
    finish. If it is still running at `timeout_s`, stop it and raise
    TimeoutError — a sink read now would return a partial mid-stream
    result, so fail loudly instead. The checkpoint stays where it is."""
    query = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"streaming query {name} did not finish in {timeout_s}s")
    return query


def run_available_now(
    df: DataFrame, mode: str = "append", timeout_s: int = 300
) -> DataFrame:
    """Execute a streaming plan to completion over all currently
    available data and return the materialized result.

    Memory sink is the dev/test harness only — it collects to the
    driver. Production sinks are `to_parquet_sink` (below) or Kafka;
    the plan object is identical either way. The checkpoint is removed
    and the sink's temp view dropped once the drain ends: the returned
    frame, resolved before the drop, still reads the in-memory rows.
    """
    name = f"q_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
    ckpt = scratch_dir(name)
    try:
        drain(writer, name, ckpt, timeout_s)
        return df.sparkSession.table(name)
    finally:
        scratch.clear_scratch(ckpt)
        df.sparkSession.catalog.dropTempView(name)


def to_parquet_sink(df: DataFrame, out_dir: str, timeout_s: int = 300) -> None:
    """Production-shaped sink: exactly-once parquet append via the
    streaming committer + checkpoint. At 100 TB this is partitioned by
    event date so downstream readers get partition pruning. The
    checkpoint, `<scratch root>/streaming/ckpt-<digest of out_dir>`, is
    replaced per call and kept after it (`commits/` count the batches)."""
    writer = (
        df.withColumn("event_date", F.to_date("ts"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .partitionBy("event_date")
    )
    drain(writer, f"parquet sink to {out_dir}", scratch_dir(f"ckpt-{_digest(out_dir)}"), timeout_s)
