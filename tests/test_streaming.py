"""True Structured Streaming tests (SURVEY.md §2.9, §5.2).

The batch twins of these plans are hash-checked against DuckDB by
test_parity.py; here the SAME plan builders run as real streaming
queries — incremental file arrival, watermark late-data drops,
at-least-once redelivery dedup, and cross-batch state-store updates —
asserting the streaming result converges to the batch result.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from lambda_hive_spark import lakehouse
from lambda_hive_spark.io import table
from lambda_hive_spark.streaming import core, plans
from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(map(str, (tuple(r) for r in df.collect())))


def _stamp_arrival(path: str, order: int) -> None:
    """FileStreamSource picks up files in modification-time order;
    same-second copies tie unpredictably, so pin arrival order."""
    t = time.time() - 3600 + order * 60
    os.utime(path, (t, t))


@pytest.fixture()
def events_batch(spark):
    return table(spark, SF_SMALL, "events")


@pytest.fixture()
def arrival_dirs(spark, events_batch, tmp_path):
    """Split events into 3 parquet files by time order, simulating
    in-order arrival into a landing dir."""
    from pyspark.sql import Window

    land = str(tmp_path / "landing")
    ev = events_batch.withColumn("bucket", F.ntile(3).over(Window.orderBy("ts")))
    os.makedirs(land)
    for b in (1, 2, 3):
        part = str(tmp_path / f"part{b}")
        (
            ev.filter(F.col("bucket") == b)
            .drop("bucket")
            .withColumn("ts", F.unix_micros("ts") * 1000)  # back to raw nanos shape
            .repartition(1)
            .write.mode("overwrite")
            .parquet(part)
        )
        src = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        dst = os.path.join(land, f"arrival-{b}.parquet")
        shutil.copy(os.path.join(part, src), dst)
        _stamp_arrival(dst, b)
    return land


def test_incremental_tumbling_converges_to_batch(spark, events_batch, arrival_dirs):
    """3 micro-batches (one file each, complete mode) end at exactly
    the batch answer."""
    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    got = core.run_available_now(plans.tumbling(stream), mode="complete")
    assert _rows(got) == _rows(plans.tumbling(events_batch))


def test_watermark_append_frontier(spark, events_batch, arrival_dirs):
    """Append mode with a 10-minute watermark: every window is emitted
    EXACTLY once, the emitted set is complete up to the final watermark
    frontier (max event time − delay), and windows the frontier has not
    passed are withheld.

    Note on late rows (verified empirically on this Spark 4.1 build):
    rows behind the watermark are still MERGED into not-yet-flushed
    window state rather than dropped row-wise — the watermark gates
    *emission*, giving exactly-once-per-window output; state for
    emitted windows is evicted, which is what bounds state at scale.
    """
    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    got = core.run_available_now(plans.watermarked_counts(stream), mode="append")

    max_ts = events_batch.agg(F.max("ts")).collect()[0][0]
    # frontier: windows whose end (= start + 5 min) the final watermark
    # (= max_ts − 10 min) has passed are finalized and emitted.
    closed = plans.tumbling(events_batch).filter(
        F.col("w_start") + F.expr("INTERVAL 15 minutes") <= F.lit(max_ts)
    )
    open_ = plans.tumbling(events_batch).filter(
        F.col("w_start") + F.expr("INTERVAL 15 minutes") > F.lit(max_ts)
    )
    assert _rows(got) == _rows(closed)
    # exactly-once per (window, type): no duplicate emissions
    assert got.count() == got.select("w_start", "event_type").distinct().count()
    # the trailing open windows exist in batch mode but are withheld here
    assert open_.count() > 0


def test_streaming_dedup_under_redelivery(spark, events_batch, arrival_dirs, tmp_path):
    """The same 3 files delivered twice (at-least-once source) dedup
    back to exactly one copy per event_id."""
    land = str(tmp_path / "redelivery")
    shutil.copytree(arrival_dirs, land)
    for f in os.listdir(arrival_dirs):
        shutil.copy(os.path.join(arrival_dirs, f), os.path.join(land, f"re-{f}"))
    stream = core.events_stream(spark, land, max_files_per_trigger=2)
    got = core.run_available_now(plans.dedup(stream, watermark="30 days"))
    assert got.count() == events_batch.count()
    assert got.select(F.count_distinct("event_id")).collect()[0][0] == events_batch.count()


def test_fold_ignores_chunking_and_chunk_order():
    """The per-user fold sorts a group's rows once, across its chunks:
    a group delivered as out-of-order chunks folds to the same state
    as the whole group (sorting each chunk on its own would end at 0
    purchases here, counting the error last)."""
    import pandas as pd

    ts = pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:01", "2024-01-01 00:02",
                         "2024-01-01 00:03", "2024-01-01 00:04"])
    group = pd.DataFrame(
        {"ts": ts, "event_type": ["purchase", "error", "view", "purchase", "purchase"]}
    )
    chunks = [group.iloc[[4, 2]], group.iloc[[3]], group.iloc[[1, 0]]]
    assert plans._fold([group]) == plans._fold(chunks) == (5, 2)
    assert plans._fold(chunks, 7, 4) == (12, 2)


def test_stateful_stream_matches_batch_twin(spark, events_batch, arrival_dirs):
    """applyInPandasWithState across 3 in-order micro-batches ends in
    the same per-user state as the batch applyInPandas twin."""
    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    updates = core.run_available_now(plans.stateful_stream(stream), mode="update")
    # update mode emits one row per user per touching batch: the last
    # update per user is the final state.
    from pyspark.sql import Window

    final = (
        updates.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n_events"))
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert _rows(final) == _rows(plans.stateful_batch(events_batch))


def test_stream_stream_join_matches_batch(spark, events_batch, arrival_dirs):
    """Watermarked stream-stream join over 3 in-order micro-batches
    converges to the batch twin (the time-range condition bounds the
    buffered state on both sides)."""
    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    purchases = stream.filter(F.col("event_type") == "purchase").withWatermark("ts", "1 hour")
    errors = stream.filter(F.col("event_type") == "error").withWatermark("ts", "1 hour")
    got = core.run_available_now(plans.purchase_error_join(purchases, errors))
    want = plans.purchase_error_join(
        events_batch.filter(F.col("event_type") == "purchase"),
        events_batch.filter(F.col("event_type") == "error"),
    )
    assert _rows(got) == _rows(want)


def test_parquet_sink_roundtrip(spark, events_batch, arrival_dirs, tmp_path):
    """Streaming parquet sink writes every row exactly once, with the
    date partition column for downstream pruning."""
    out = str(tmp_path / "sink_out")
    core.to_parquet_sink(core.events_stream(spark, arrival_dirs), out)
    back = spark.read.parquet(out)
    assert back.count() == events_batch.count()
    assert "event_date" in back.columns
    # partition dirs exist → a date-filtered read prunes at 100 TB
    assert any(d.startswith("event_date=") for d in os.listdir(out))


def test_parquet_sink_timeout_stops_query_and_raises(spark, arrival_dirs, tmp_path):
    """A drain that cannot finish inside its timeout (three one-file
    micro-batches against 10 ms) stops the query and raises instead of
    returning as if the sink were complete."""
    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    with pytest.raises(TimeoutError):
        core.to_parquet_sink(stream, str(tmp_path / "sink_out"), timeout_s=0.01)
    assert spark.streams.active == []


def test_parquet_sink_checkpoint_per_sink_dir(spark, arrival_dirs, tmp_path, monkeypatch):
    """Each to_parquet_sink call leaves exactly one checkpoint,
    `<scratch>/streaming/ckpt-*`, whose commits/ count its micro-batches
    (the benchmark reads a stream job's batches this way); a re-run
    into the same sink dir replaces that checkpoint instead of adding
    one."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    pattern = str(tmp_path / "scratch" / "streaming" / "ckpt-*")

    def sink(out: str) -> set:
        before = set(glob.glob(pattern))
        stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
        core.to_parquet_sink(stream, str(tmp_path / out))
        for ckpt in glob.glob(pattern):
            assert len(glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))) == 3
        return set(glob.glob(pattern)) - before

    first = sink("sink_a")
    assert len(first) == 1
    assert len(sink("sink_b")) == 1
    assert sink("sink_a") == set()
    assert first <= set(glob.glob(pattern)) and len(glob.glob(pattern)) == 2


def _scratch_entries(root: str) -> set:
    """Every path one or two levels under the scratch root: the op dirs
    and, under streaming/, the landing, sink, state and checkpoint
    dirs (deeper names are Spark's per-write part files)."""
    return {
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, "*")) + glob.glob(os.path.join(root, "*", "*"))
    }


def test_stream_op_scratch_bounded_by_op_count(spark, tmp_path, monkeypatch):
    """Re-running every scratch-writing stream op leaves the same set
    of scratch entries as the first run: scratch grows with the number
    of ops, not the number of calls."""
    from lambda_hive_spark.registry import all_ops

    root = str(tmp_path / "scratch")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", root)
    ops = all_ops()
    names = (
        "scan_stream", "stream_watermark", "stream_sink",
        "stream_upsert_foreachbatch", "stream_progress_metrics", "stream_sink_lake",
    )
    rounds = []
    for _ in range(2):
        for name in names:
            ops[name].fn(spark, SF_SMALL).collect()
        rounds.append(_scratch_entries(root))
    assert "streaming/sink" in rounds[0] and any(
        e.startswith("streaming/landing-") for e in rounds[0]
    )
    assert rounds[1] == rounds[0], sorted(rounds[1] ^ rounds[0])


def test_stream_results_held_across_reinvocation(spark, tmp_path, monkeypatch):
    """Collect-before-reinvoke (lambda_hive_spark/scratch.py): a
    stream_sink result collected before the op re-runs still equals
    the oracle, and a stream declared over the corpus's landing dir
    before scan_stream ran still drains every row afterwards."""
    from lambda_hive_spark.registry import all_ops
    from lambda_hive_spark.testing import duck_connection, normalize

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    ops = all_ops()
    held = ops["stream_sink"].fn(spark, SF_SMALL).toPandas()
    ops["stream_sink"].fn(spark, SF_SMALL).collect()
    con = duck_connection(SF_SMALL)
    assert normalize(held) == normalize(con.execute(ops["stream_sink"].oracle).fetchdf())
    con.close()

    stream = core.events_stream(spark, core.landing_dir(SF_SMALL))
    ops["scan_stream"].fn(spark, SF_SMALL).collect()
    assert core.run_available_now(stream).count() == table(spark, SF_SMALL, "events").count()


def test_run_available_now_drops_its_memory_sink(spark, tmp_path, monkeypatch):
    """Each drain's `q_<uuid>` memory table leaves the catalog when the
    drain ends, and the frames it returned still read their rows."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    n = table(spark, SF_SMALL, "events").count()
    stream = core.events_stream(spark, core.landing_dir(SF_SMALL))
    held = [core.run_available_now(stream) for _ in range(3)]
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("q_")] == []
    assert [df.count() for df in held] == [n, n, n]


def test_stream_progress_metrics_drops_its_memory_sink(spark, tmp_path, monkeypatch):
    """Each call's `prog_<uuid>` memory table leaves the catalog when
    the op returns."""
    from lambda_hive_spark.registry import all_ops

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    op = all_ops()["stream_progress_metrics"]
    for _ in range(3):
        op.fn(spark, SF_SMALL).collect()
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("prog_")] == []


def test_landing_dir_concurrent_first_build(tmp_path, monkeypatch):
    """Threads asking at once for a corpus's not-yet-built landing farm
    all get the one intact farm (no doubled rebuild)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for i in range(10):
            corpus = tmp_path / f"corpus{i}"
            corpus.mkdir()
            (corpus / "events.parquet").write_bytes(b"x")
            with ThreadPoolExecutor(16) as pool:
                lands = list(pool.map(lambda _: core.landing_dir(str(corpus)), range(16)))
            assert len(set(lands)) == 1
            assert os.listdir(lands[0]) == ["events.parquet"]
    finally:
        sys.setswitchinterval(old)


def test_stream_ops_read_events_part_file_directory(spark, tmp_path):
    """A corpus whose events.parquet is a directory of part files (the
    bench scale-corpus layout): the landing dir links each part file,
    so scan_stream and stream_sink deliver every row."""
    import pyarrow.parquet as pq

    from lambda_hive_spark.io import TABLES
    from lambda_hive_spark.registry import all_ops
    from lambda_hive_spark.testing import assert_parity, duck_connection

    corpus = tmp_path / "corpus"
    parts = corpus / "events.parquet"
    parts.mkdir(parents=True)
    events = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    half = events.num_rows // 2
    pq.write_table(events.slice(0, half), str(parts / "part-00000.parquet"))
    pq.write_table(events.slice(half), str(parts / "part-00001.parquet"))
    (parts / "_SUCCESS").touch()
    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(SF_SMALL, f"{t}.parquet"), corpus / f"{t}.parquet")
    land = core.landing_dir(str(corpus))
    assert sorted(os.listdir(land)) == ["part-00000.parquet", "part-00001.parquet"]
    con = duck_connection(str(corpus))
    ops = all_ops()
    for name in ("scan_stream", "stream_sink"):
        assert_parity(ops[name].fn(spark, str(corpus)), con, ops[name].oracle, name)
    con.close()


def test_streaming_session_windows_converge(spark, events_batch, arrival_dirs):
    """session_window in a real watermarked streaming query: every
    emitted session matches the batch result (sessions still open at
    the frontier are withheld in append mode)."""
    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    got = core.run_available_now(
        plans.session(stream.withWatermark("ts", "1 hour")), mode="append"
    )
    want = {tuple(r) for r in plans.session(events_batch).collect()}
    emitted = {tuple(r) for r in got.collect()}
    assert emitted <= want
    # everything but the per-user trailing sessions must be out
    assert len(emitted) >= len(want) - events_batch.select("user_id").distinct().count()


def test_transform_with_state_matches_batch_twin(spark, events_batch, arrival_dirs):
    """Spark 4 transformWithStateInPandas (typed ValueState processor)
    over 3 in-order micro-batches ends in the same per-user state as
    the batch applyInPandas twin. The TWS runtime speaks protobuf to
    the state server — skipped where google.protobuf is unavailable
    (this container); applyInPandasWithState covers the semantics."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import Window

    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    updates = core.run_available_now(plans.stateful_stream_tws(stream), mode="update")
    final = (
        updates.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events"))),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert _rows(final) == _rows(plans.stateful_batch(events_batch))


@pytest.fixture()
def reversed_arrival_dirs(spark, events_batch, tmp_path):
    """The same 3 time-ordered thirds as `arrival_dirs`, but arriving
    NEWEST-FIRST — the adversarial order that races the watermark past
    the stragglers: batch 1 (newest third) drags the watermark near
    the global max event time, so the middle and oldest thirds arrive
    late relative to it."""
    from pyspark.sql import Window

    land = str(tmp_path / "ooo_landing")
    # (ts, event_id) ordering makes the ntile bucketing deterministic,
    # so the test's oracle can recompute the exact same thirds.
    ev = events_batch.withColumn(
        "bucket", F.ntile(3).over(Window.orderBy("ts", "event_id"))
    )
    os.makedirs(land)
    for arrival, b in enumerate((3, 2, 1), start=1):
        part = str(tmp_path / f"ooo_part{b}")
        (
            ev.filter(F.col("bucket") == b)
            .drop("bucket")
            .withColumn("ts", F.unix_micros("ts") * 1000)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(part)
        )
        src = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        dst = os.path.join(land, f"arrival-{arrival}-bucket{b}.parquet")
        shutil.copy(os.path.join(part, src), dst)
        _stamp_arrival(dst, arrival)
    return land


def test_stateful_late_data_dropped_at_watermark_frontier(
    spark, events_batch, reversed_arrival_dirs
):
    """Late/out-of-order injection for the watermarked stateful path
    (VERDICT r5 item 7): with the newest third arriving FIRST, the
    stragglers in the last batch arrive behind the watermark; rows
    behind the frontier must be dropped BEFORE the state function, and
    rows at-or-ahead of it admitted. The oracle is the batch twin on
    exactly the admitted subset, computed from first principles
    (per-batch watermark progression), so the test fails both if Spark
    drops too much (admitted row lost) and if a late row leaks into
    state.

    Build-verified watermark progression (pinned here; see
    plans.stateful_stream_watermarked): the watermark visible to batch
    N derives from data through batch N-2, so batches 1 AND 2 run
    unfiltered at the epoch watermark, and batch 3 is filtered at
    frontier = max(ts through batch 2) − delay = global_max − delay
    (batch 1 holds the global max). The delay is sized to land that
    frontier strictly inside batch 3's time range, so the last batch
    genuinely SPLITS into dropped-late vs admitted-on-time."""
    from datetime import timedelta

    from pyspark.sql import Window

    ev = events_batch.withColumn(
        "bucket", F.ntile(3).over(Window.orderBy("ts", "event_id"))
    )
    hi = events_batch.agg(F.max("ts")).collect()[0][0]
    b3_lo, b3_hi = (
        ev.filter(F.col("bucket") == 1).agg(F.min("ts"), F.max("ts")).collect()[0]
    )
    # Frontier at batch-3's time midpoint → part dropped, part admitted.
    delay_s = int((hi - (b3_lo + (b3_hi - b3_lo) / 2)).total_seconds())
    frontier = hi - timedelta(seconds=delay_s)
    # Keep the frontier strictly between event timestamps so the
    # admitted set is insensitive to the >= vs > boundary convention.
    while events_batch.filter(F.col("ts") == F.lit(frontier)).count() > 0:
        delay_s += 1
        frontier = hi - timedelta(seconds=delay_s)

    stream = core.events_stream(spark, reversed_arrival_dirs, max_files_per_trigger=1)
    updates = core.run_available_now(
        plans.stateful_stream_watermarked(stream, f"{delay_s} seconds"), mode="update"
    )
    final = (
        updates.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events"))),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    # Admitted = batches 1-2 (newest+middle thirds, both pre-watermark)
    # ∪ batch-3 rows at or ahead of the frontier.
    admitted = ev.filter(
        (F.col("bucket") != 1) | (F.col("ts") >= F.lit(frontier))
    ).drop("bucket")
    n_admitted, n_total = admitted.count(), events_batch.count()
    assert 0 < n_admitted < n_total  # the injection really drops rows
    # …and really splits batch 3: the oldest third must have rows on
    # BOTH sides of the frontier, or the test degenerates to
    # "the last batch vanished wholesale".
    b3 = ev.filter(F.col("bucket") == 1)
    assert b3.filter(F.col("ts") >= F.lit(frontier)).count() > 0
    assert b3.filter(F.col("ts") < F.lit(frontier)).count() > 0

    # Frontier oracle, folded in ARRIVAL order: the per-user state
    # machine is order-sensitive (purchases reset on error), and with
    # reversed arrival the stream folds newest-third first — so the
    # oracle replays the admitted rows in (arrival batch, ts) order,
    # exactly the order the state store consumed them. (stateful_batch
    # would sort globally by ts — the right twin for in-order arrival,
    # covered by test_stateful_stream_matches_batch_twin.)
    import pandas as pd

    adm_pd = (
        ev.filter((F.col("bucket") != 1) | (F.col("ts") >= F.lit(frontier)))
        # arrival order: bucket 3 (newest) first, then 2, then 1
        .withColumn("arrival", 4 - F.col("bucket"))
        .select("user_id", "arrival", "ts", "event_type")
        .toPandas()
    )
    want = []
    for uid, g in adm_pd.groupby("user_id"):
        g = g.sort_values(["arrival", "ts"])
        p = 0
        for et in g["event_type"]:
            if et == "error":
                p = 0
            elif et == "purchase":
                p += 1
        want.append((uid, len(g), p))
    got = sorted(tuple(r) for r in final.collect())
    assert got == sorted(want)
    # dropped-late vs admitted-on-time counts: state saw exactly the
    # admitted rows, nothing from behind the frontier leaked in.
    assert final.agg(F.sum("n_events")).collect()[0][0] == n_admitted


def test_checkpoint_recovery_exactly_once(spark, events_batch, arrival_dirs, tmp_path):
    """Restart semantics: a parquet-sink query stopped after draining
    two files and RESTARTED with the same checkpoint processes ONLY
    the file that arrived in between — every row lands exactly once.
    This is the recovery guarantee a 100 TB pipeline leans on."""
    land = str(tmp_path / "recovery_landing")
    os.makedirs(land)
    files = sorted(os.listdir(arrival_dirs))
    # phase 1: only the first two files have arrived
    for f in files[:2]:
        shutil.copy(os.path.join(arrival_dirs, f), os.path.join(land, f))
        _stamp_arrival(os.path.join(land, f), int(f.split("-")[1].split(".")[0]))
    out = str(tmp_path / "recovery_out")
    ckpt = str(tmp_path / "recovery_ckpt")

    def run_once():
        q = (
            core.events_stream(spark, land)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_phase1 = spark.read.parquet(out).count()
    assert 0 < n_phase1 < events_batch.count()
    # phase 2: third file arrives; restart from the same checkpoint
    shutil.copy(os.path.join(arrival_dirs, files[2]), os.path.join(land, files[2]))
    _stamp_arrival(os.path.join(land, files[2]), 3)
    run_once()
    back = spark.read.parquet(out)
    assert back.count() == events_batch.count()  # nothing lost...
    assert back.select(F.count_distinct("event_id")).collect()[0][0] == events_batch.count()
    # ...and nothing duplicated: phase-1 rows were not reprocessed


def test_always_on_processing_time_trigger(spark):
    """True always-on operation (VERDICT r5: 'availableNow-verified
    only'): a rate source under a processingTime trigger runs
    open-endedly — multiple micro-batches must fire on the wall-clock
    cadence (not a single drain), rows must flow continuously, and
    stop() must end the query cleanly. The rate source needs no files,
    so this exercises the always-on scheduler itself."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    name = "always_on_probe"
    query = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", core.scratch_dir("ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            progress = query.recentProgress
            total = sum(p["numInputRows"] for p in progress)
            if len(progress) >= 3 and total > 0:
                break
            time.sleep(0.5)
        progress = query.recentProgress
        assert len(progress) >= 3, "always-on trigger did not fire repeatedly"
        assert sum(p["numInputRows"] for p in progress) > 0, "no rows flowed"
    finally:
        query.stop()
    got = spark.sql(f"SELECT sum(n) AS total FROM {name}").collect()[0]["total"]
    assert got and got > 0


def test_rocksdb_state_store_matches_default_provider(spark, events_batch, arrival_dirs):
    """State-store pluggability (VERDICT r5: 'RocksDB state store
    untested'): the same applyInPandasWithState plan, executed with
    the RocksDB state store provider (the disk-backed store a 100 TB
    deployment runs so state size is bounded by disk, not executor
    heap), must end in exactly the per-user state the batch twin
    computes — and therefore exactly what the default HDFS-backed
    in-memory provider produced in test_stateful_stream_matches_batch
    _twin. Provider is a session conf read at query start; restored
    after."""
    from pyspark.sql import Window

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
        updates = core.run_available_now(plans.stateful_stream(stream), mode="update")
        final = (
            updates.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.desc("n_events"))
                ),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        assert _rows(final) == _rows(plans.stateful_batch(events_batch))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_foreachbatch_upsert_multi_batch(spark, events_batch, arrival_dirs, tmp_path):
    """The upsert state after 3 single-file micro-batches equals the
    batch latest-per-user twin — i.e. the incremental MERGE converges
    to the same table a full recompute would produce, across batch
    boundaries (the single-batch case is covered by the op's oracle).
    Each batch adds exactly one data file to the state."""
    from pyspark.sql import Window

    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    state_path = plans.run_upsert(stream, str(tmp_path / "upsert-state"))
    got = _rows(lakehouse.read(spark, state_path).select("user_id", "event_id", "value"))
    files = [
        {f["path"] for f in lakehouse.read_manifest(state_path, v)["files"]}
        for v in range(1, lakehouse.current_version(state_path) + 1)
    ]
    assert len(files) == 3
    added = [files[0]] + [b - a for a, b in zip(files, files[1:])]
    assert [len(a) for a in added] == [1, 1, 1]
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = _rows(
        events_batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )
    assert got == want


def _latest_rows(events):
    """(user_id, event_id, value) of each user's latest event."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return _rows(
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


def test_upsert_state_complete_inside_commit_window(spark, arrival_dirs, tmp_path, monkeypatch):
    """A reader of the upsert state at the moment a later batch's
    commit publishes (everything written, manifest not yet in place)
    reads the previous batch's complete state. A replay of the same landing
    dir from a fresh checkpoint commits nothing and leaves the same
    rows."""
    from lambda_hive_spark.io import _normalize_timestamps

    state_dir = str(tmp_path / "upsert-state")
    state = os.path.join(state_dir, "state")
    seen = []
    publish = lakehouse._publish

    def probe(target, entry):
        if target.startswith(os.path.join(state, "")) and lakehouse.current_version(state):
            seen.append(_rows(lakehouse.read(spark, state).select("user_id", "event_id", "value")))
        return publish(target, entry)

    monkeypatch.setattr(lakehouse, "_publish", probe)
    stream = core.events_stream(spark, arrival_dirs, max_files_per_trigger=1)
    plans.run_upsert(stream, state_dir)
    files = sorted(glob.glob(os.path.join(arrival_dirs, "*.parquet")))
    arrived = [_normalize_timestamps(spark.read.parquet(*files[:n])) for n in (1, 2)]
    assert seen == [_latest_rows(df) for df in arrived]

    head, final = lakehouse.current_version(state), _rows(lakehouse.read(spark, state))
    shutil.rmtree(os.path.join(state_dir, "ckpt"))
    plans.run_upsert(core.events_stream(spark, arrival_dirs, max_files_per_trigger=1), state_dir)
    assert lakehouse.current_version(state) == head
    assert _rows(lakehouse.read(spark, state)) == final


def test_upsert_cost_follows_batch_keys(spark, tmp_path, monkeypatch):
    """Two batches against a state of 800 users on eight key-clustered
    files: each batch's lookup reads only the files plan_files admits
    for its key range, and the second commit carries every file
    outside that range by reference, same path and same deletion
    vector."""
    state_dir = str(tmp_path / "upsert-state")
    state = os.path.join(state_dir, "state")
    t0 = F.timestamp_micros(F.lit(1_700_000_000_000_000))
    seed = spark.range(800).select(
        F.col("id").alias("user_id"), F.col("id").alias("event_id"),
        F.lit(0.0).alias("value"), t0.alias("ts"),
    )
    lakehouse.create(spark, state, seed.repartitionByRange(8, "user_id"), key="user_id")
    assert len(lakehouse.read_manifest(state)["files"]) == 8
    land = str(tmp_path / "landing")
    for b, lo in ((1, 10), (2, 410)):
        part = str(tmp_path / f"batch{b}")
        spark.range(lo, lo + 5).select(
            F.col("id").alias("user_id"), (F.col("id") + 1000 * b).alias("event_id"),
            F.lit(float(b)).alias("value"), (t0 + F.expr(f"INTERVAL {b} HOURS")).alias("ts"),
        ).repartition(1).write.parquet(part)
        os.makedirs(land, exist_ok=True)
        dst = os.path.join(land, f"batch-{b}.parquet")
        shutil.copy(glob.glob(os.path.join(part, "*.parquet"))[0], dst)
        _stamp_arrival(dst, b)

    scan, lookups = lakehouse.scan, []

    def spy(sess, path, **kw):
        df = scan(sess, path, **kw)
        admitted = lakehouse.plan_files(path, key_min=kw["key_min"], key_max=kw["key_max"])
        read = {lakehouse._plain_path(u) for u in df.inputFiles()}
        lookups.append((kw["key_min"], kw["key_max"], read, {f["path"] for f in admitted}))
        return df

    monkeypatch.setattr(lakehouse, "scan", spy)
    plans.run_upsert(core.events_stream(spark, land, max_files_per_trigger=1), state_dir)
    assert [(lo, hi) for lo, hi, _, _ in lookups] == [(10, 14), (410, 414)]
    for _, _, read, admitted in lookups:
        assert read == admitted and len(admitted) == 1

    before, after = (lakehouse.read_manifest(state, v)["files"] for v in (2, 3))
    assert lakehouse.read_manifest(state, 3)["action"] == "merge_dv"
    outside = [f for f in before if f["max_key"] < 410 or f["min_key"] > 414]
    assert len(outside) == len(before) - 1  # all but the seed file holding 410..414
    assert any(f.get("dv") for f in outside)  # batch 1's deletions ride along
    assert all(f in after for f in outside)
    got = {r["user_id"]: r["value"] for r in lakehouse.read(spark, state).collect()}
    assert len(got) == 800
    assert {u for u, v in got.items() if v} == {*range(10, 15), *range(410, 415)}


def test_stateful_rate_soak_state_bounded_and_recoverable(spark, tmp_path):
    """Multi-micro-batch soak on the STATEFUL path (VERDICT r6 item 7):
    stateful_stream_watermarked under a rate source + processingTime
    trigger must (1) run >= 5 data-carrying micro-batches, (2) keep the
    state store at O(|users|) rows — never growing with events — and
    (3) survive a stop/restart from the same checkpoint with the
    per-user event counters accounting for every delivered row exactly
    once across both runs (the stream_sink_lake exactly-once proof,
    mirrored onto applyInPandasWithState state)."""
    ckpt = str(tmp_path / "soak_ckpt")
    n_users = 8

    def source():
        raw = spark.readStream.format("rate").option("rowsPerSecond", 400).load()
        return raw.select(
            (F.col("value") % n_users).cast("long").alias("user_id"),
            F.when(F.col("value") % 11 == 0, F.lit("error"))
            .when(F.col("value") % 3 == 0, F.lit("purchase"))
            .otherwise(F.lit("view"))
            .alias("event_type"),
            F.col("timestamp").alias("ts"),
        )

    out = str(tmp_path / "soak_out")

    def start(qname):
        # memory sink cannot recover from a checkpoint; foreachBatch →
        # parquet-append can, and its batch id makes replays visible
        return (
            plans.stateful_stream_watermarked(source(), delay="10 seconds")
            .writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    q = start("stateful_soak")
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(prog) >= 5:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(prog) >= 5, "fewer than 5 data-carrying micro-batches"
    for p in prog:
        ops = p["stateOperators"]
        assert ops and ops[0]["numRowsTotal"] <= n_users  # state is O(users)
    assert prog[-1]["stateOperators"][0]["numRowsTotal"] == n_users
    rows_run1 = sum(p["numInputRows"] for p in q.recentProgress)
    assert rows_run1 > 0

    # restart from the same checkpoint: state carries over and keeps
    # counting; a batch interrupted by stop() replays into run 2
    q2 = start("stateful_soak_resumed")
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            prog2 = [p for p in q2.recentProgress if p["numInputRows"] > 0]
            if len(prog2) >= 2:
                break
            time.sleep(0.5)
    finally:
        q2.stop()
    prog2 = [p for p in q2.recentProgress if p["numInputRows"] > 0]
    assert len(prog2) >= 2, "restarted query produced no micro-batches"
    rows_run2 = sum(p["numInputRows"] for p in q2.recentProgress)
    latest = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    )
    assert len(latest) == n_users  # every user updated post-restart
    # exactly-once: per-user counters account for every delivered row
    assert sum(r["n"] for r in latest) == rows_run1 + rows_run2
