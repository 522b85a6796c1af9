"""Scan / source / sink operators (SURVEY.md §2.1).

Scale notes: scans are single parquet files in the fixtures; at 100 TB
they become partitioned directories and the SAME declarative plans get
partition pruning + predicate pushdown + column pruning for free from
Catalyst (plan-asserted in tests/test_plans.py). Sinks write via the
distributed committer — no driver-side collect anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lambda_hive_spark.helpers import dsum, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op
from lambda_hive_spark.scratch import mark_scratch_fresh, named as _scratch, scratch_stale


@op("scan_parquet", oracle="SELECT * FROM orders")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of one table, schema from the parquet footer."""
    return table(spark, sf_dir, "orders")


@op("scan_projected", oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem")
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan — ReadSchema must shrink to 3 columns
    (asserted in tests/test_plans.py)."""
    return table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")


@op(
    "scan_filtered",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity > 45
""",
)
def scan_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown scan — both conjuncts reach PushedFilters."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@op("source_csv_json", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation", tags=("side_effect",))
def source_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON ingestion with explicit schema (never inferSchema):
    round-trip nation through both formats and read them back. The
    lossless int/string round-trip makes this sql-checkable.

    The CSV write pins the schema's column ORDER explicitly: CSV is a
    positional format, and Spark's explicit-schema read maps columns
    by position (enforceSchema ignores the header names) — a source
    table whose physical column order differs from the read schema
    would silently transpose fields (caught by the round-5 colshuffle
    perturbation variant). JSON is by-name and immune."""
    n = table(spark, sf_dir, "nation").select(
        *[f.name for f in _NATION_SCHEMA.fields]
    )
    csv_dir, json_dir = _scratch("nation_csv"), _scratch("nation_json")
    n.write.mode("overwrite").option("header", True).csv(csv_dir)
    n.write.mode("overwrite").json(json_dir)
    csv_df = spark.read.schema(_NATION_SCHEMA).option("header", True).csv(csv_dir)
    json_df = spark.read.schema(_NATION_SCHEMA).json(json_dir)
    # Return CSV∪JSON de-duplicated — equals nation iff both reads are faithful.
    return csv_df.unionByName(json_df).distinct()


@op(
    "sink_parquet",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice", prec=38)} AS total
FROM orders GROUP BY o_orderstatus
""",
    tags=("side_effect",),
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an aggregate to parquet via the distributed committer and
    read it back — checks the write path end-to-end."""
    out = _scratch("orders_by_status")
    (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", prec=38).alias("total"),
        )
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


@op(
    "source_orc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("side_effect",),
)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion (Spark-native columnar format besides parquet):
    round-trip nation through ORC with an explicit read schema. DuckDB
    has no ORC reader, so correctness is the faithful-round-trip
    property — the read-back must equal the source table the oracle
    selects. Same pattern as source_csv_json; at 100 TB ORC scans get
    the same pushdown/pruning treatment as parquet from the native
    vectorized reader."""
    n = table(spark, sf_dir, "nation")
    orc_dir = _scratch("nation_orc")
    n.write.mode("overwrite").orc(orc_dir)
    return spark.read.schema(_NATION_SCHEMA).orc(orc_dir)


@op(
    "sink_csv_json_roundtrip",
    oracle=f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum("o_totalprice", prec=38)} AS total
FROM orders GROUP BY o_orderstatus
""",
    tags=("side_effect",),
)
def sink_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format sink matrix: the same aggregate written to CSV
    (with header) AND JSON-lines via the distributed committer, both
    read back with explicit schemas and cross-checked row-for-row
    (inner join on the key, both sides' values re-emitted). The oracle
    match proves neither text codec lost precision — doubles survive
    because Spark writes shortest-roundtrip decimal reprs.

    Scale: text sinks are for interchange, not analytics — no
    statistics, no pushdown, full re-parse on read (the docstring
    contract: land in parquet/ORC, export to text only at the edge).
    The committer semantics (atomic per-task files + _SUCCESS) are
    identical to the parquet path."""
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", prec=38).alias("total"),
        )
    )
    csv_out, json_out = _scratch("agg_csv"), _scratch("agg_json")
    agg.write.mode("overwrite").option("header", True).csv(csv_out)
    agg.write.mode("overwrite").json(json_out)
    schema = "o_orderstatus STRING, n_orders BIGINT, total DOUBLE"
    from_csv = spark.read.schema(schema).option("header", True).csv(csv_out)
    from_json = spark.read.schema(schema).json(json_out)
    j = from_csv.alias("c").join(from_json.alias("j"), "o_orderstatus")
    return j.select(
        "o_orderstatus",
        F.col("c.n_orders").alias("n_orders"),
        F.col("j.total").alias("total"),
    )


@op(
    "scan_schema_evolution",
    oracle="""
WITH v1 AS (SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source
            FROM documents WHERE doc_id % 2 = 0),
v2 AS (SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1),
unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT lang, COALESCE(source, '<pre-evolution>') AS source,
       CAST(COUNT(*) AS BIGINT) AS n
FROM unioned GROUP BY 1, 2
""",
    tags=("side_effect",),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a dataset written in two generations
    (v1 lacks the `source` column, v2 adds it) is scanned as ONE table
    with mergeSchema — old files surface NULL for the added column, no
    rewrite of historical data. This is how a 100 TB append-only lake
    absorbs schema changes: merge the footers, never the files. The
    oracle models the same union-with-null semantics.

    Scale note: mergeSchema footer reconciliation is a driver-side
    metadata operation over file footers (distributed in Spark via a
    schema-merging job when files are many); the data path stays
    vectorized parquet with pruning intact."""
    d = table(spark, sf_dir, "documents")
    base = _scratch(f"docs_evolved_{os.path.basename(sf_dir.rstrip('/'))}")
    v1, v2 = os.path.join(base, "g=1"), os.path.join(base, "g=2")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(v1)
    d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "source").write.mode(
        "overwrite"
    ).parquet(v2)
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.groupBy(
        "lang", F.coalesce("source", F.lit("<pre-evolution>")).alias("source")
    ).agg(F.count(F.lit(1)).alias("n"))


@op(
    "scan_file_metadata",
    oracle="""
SELECT CAST(doc_id % 4 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id % 4) AS BIGINT) AS n_files
FROM documents GROUP BY 1
""",
    tags=("side_effect",),
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `_metadata` hidden column: every file-based scan can expose
    the physical file path/size/mtime of each row — the lineage hook
    for quarantining a bad ingest batch ("which FILE did this row come
    from?") without a separate bookkeeping table. The op writes a
    4-way partitioned copy (one file per partition via coalesce),
    reads it back, recovers each row's partition from
    `_metadata.file_path`, and proves per-file row counts equal the
    logical bucketing; n_files counts distinct physical files per
    bucket (1 — the layout fact the oracle states as the constant the
    logical side implies)."""
    d = table(spark, sf_dir, "documents")
    out = _scratch(f"docs_bucketed_{os.path.basename(sf_dir.rstrip('/'))}")
    fixture = os.path.join(sf_dir, "documents.parquet")
    if scratch_stale(out, fixture):
        (
            d.withColumn("bucket", (F.col("doc_id") % 4).cast("bigint"))
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out)
        )
        mark_scratch_fresh(out, fixture)
    back = spark.read.parquet(out).select(
        F.col("_metadata.file_path").alias("fp")
    )
    return (
        back.withColumn(
            "bucket", F.regexp_extract("fp", r"bucket=(\d+)", 1).cast("bigint")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("fp").alias("n_files"),
        )
    )


@op(
    "scan_corrupt_records",
    oracle="""
SELECT CAST(count_if(doc_id % 50 <> 7) AS BIGINT) AS n_good,
       CAST(count_if(doc_id % 50 = 7) AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 50 <> 7 THEN doc_id END) AS BIGINT)
         AS good_id_sum
FROM documents
""",
    tags=("side_effect",),
)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingestion of a dirty JSON-lines feed: documents
    are serialized to JSONL with every (doc_id % 50 == 7) line
    deterministically mangled, then read back with an explicit schema
    plus columnNameOfCorruptRecord — bad lines land whole in the
    quarantine column with NULLs elsewhere instead of killing the job
    (FAILFAST) or vanishing silently (DROPMALFORMED). The op reports
    good/corrupt counts and a checksum over the survivors; the oracle
    recomputes all three from the clean source. The 0.001%-garbage
    reality of a 100 TB web feed makes this the only viable default
    mode, with the quarantine column routed to a dead-letter sink."""
    d = table(spark, sf_dir, "documents")
    raw = _scratch(f"docs_dirty_jsonl_{os.path.basename(sf_dir.rstrip('/'))}")
    fixture = os.path.join(sf_dir, "documents.parquet")
    if scratch_stale(raw, fixture):
        line = F.when(
            F.col("doc_id") % 50 == 7, F.lit('{"doc_id": BROKEN')
        ).otherwise(F.to_json(F.struct("doc_id", "lang", "n_chars")))
        d.select(line.alias("value")).write.mode("overwrite").text(raw)
        mark_scratch_fresh(raw, fixture)
    parsed = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(raw)
    )
    return parsed.agg(
        F.count_if(F.col("_bad").isNull()).alias("n_good"),
        F.count_if(F.col("_bad").isNotNull()).alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("doc_id"))).alias("good_id_sum"),
    )


@op(
    "sink_codec_matrix",
    oracle="""
SELECT 'zstd' AS codec, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, TRUE AS content_matches
FROM orders
UNION ALL
SELECT 'snappy', CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT), TRUE
FROM orders
""",
    tags=("side_effect",),
)
def sink_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression codec round-trip: the same table written with zstd
    and snappy, read back, and proven content-identical via an
    order-independent checksum (xor of row hashes) compared against
    the source's. The boolean is the contract the oracle asserts; a
    codec that corrupted or dropped anything flips it. Codec choice is
    a first-order 100 TB cost lever (zstd ≈ 30-40% smaller than snappy
    at similar scan speed on modern CPUs — size them on your own data;
    the op is the harness for that measurement)."""
    o = table(spark, sf_dir, "orders")
    src_sig = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*o.columns)).alias("sig"),
    ).collect()[0]
    out = []
    for codec in ("zstd", "snappy"):
        path = _scratch(
            f"orders_{codec}_{os.path.basename(sf_dir.rstrip('/'))}"
        )
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        sig = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*back.columns)).alias("sig"),
        ).collect()[0]
        out.append((codec, sig["n"], sig["n"] == src_sig["n"] and sig["sig"] == src_sig["sig"]))
    key_sums = {
        r["c"]: r["s"]
        for r in [
            spark.read.parquet(_scratch(f"orders_{c}_{os.path.basename(sf_dir.rstrip('/'))}"))
            .agg(F.lit(c).alias("c"), F.sum("o_orderkey").cast("bigint").alias("s"))
            .collect()[0]
            for c in ("zstd", "snappy")
        ]
    }
    return spark.createDataFrame(
        [(c, n, key_sums[c], ok) for c, n, ok in out],
        "codec string, n_rows bigint, key_sum bigint, content_matches boolean",
    )


@op(
    "scan_ignore_corrupt_files",
    oracle="""
SELECT event_id, user_id, event_type FROM events
""",
    tags=("side_effect",),
)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resilient directory scan: a landing dir contaminated with a
    truncated/garbage `.parquet` file (the classic failed-upload
    artifact) is read with ``ignoreCorruptFiles=true`` — the scan
    skips the unreadable file and returns every row of the good ones,
    proven by the oracle matching the clean source table exactly.
    Without the option the whole job dies on one bad file; with it,
    loss is bounded to the corrupt file and the pipeline keeps its
    SLA. (Quarantine-style accounting for semi-structured rows is the
    sibling op scan_corrupt_records.)"""
    land = _scratch(f"corrupt_land_{os.path.basename(sf_dir.rstrip('/'))}")
    fixture = os.path.join(sf_dir, "events.parquet")
    if scratch_stale(land, fixture):
        import shutil

        shutil.rmtree(land, ignore_errors=True)
        os.makedirs(land, exist_ok=True)
        shutil.copyfile(fixture, os.path.join(land, "part-good.parquet"))
        with open(os.path.join(land, "part-bad.parquet"), "wb") as f:
            f.write(b"PAR1 this is not a parquet file at all \x00\xff" * 64)
        mark_scratch_fresh(land, fixture)
    # The per-reader OPTION (not the session conf) so the tolerance is
    # baked into this plan and survives re-execution without leaking
    # session-wide state. Schema declared explicitly: driver-side
    # footer inference has no task-side tolerance and would throw on
    # the corrupt file — and a production reader declares its schema
    # anyway.
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    return (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(land)
        .select("event_id", "user_id", "event_type")
    )
