"""Composed end-to-end pipeline operators: the pieces (language ID,
quality scoring, dedup, token accounting, compliance deletes,
vector compression) chained the way a real pre-training data pipeline
chains them. Each stays one declarative Spark plan — Catalyst fuses
the stages, so "pipeline" costs no extra passes.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark.helpers import sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.operators.llm import _SQL_SHARED_PAIRS
from lambda_hive_spark.registry import op


@op(
    "pipeline_quality_filter",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, source,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr,
         md5(text) AS content_key
  FROM documents
),
kept AS (
  SELECT * FROM scored
  WHERE lang = 'en' AND n_tokens BETWEEN 10 AND 1000 AND ttr > 0.3
),
deduped AS (
  SELECT content_key, MIN(doc_id) AS doc_id FROM kept GROUP BY content_key
)
SELECT k.source, COUNT(*) AS n_docs, CAST(SUM(k.n_tokens) AS BIGINT) AS total_tokens
FROM deduped d JOIN kept k ON d.doc_id = k.doc_id
GROUP BY k.source
""",
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training filter: language gate → length +
    type-token-ratio quality gate → exact content dedup (keep lowest
    doc_id) → per-source token accounting. One logical plan; at 100 TB
    the only shuffles are the dedup groupBy and the final rollup —
    both on narrow hashed keys."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    kept = (
        d.select(
            "doc_id",
            "source",
            "lang",
            n_tok.alias("n_tokens"),
            ttr.alias("ttr"),
            F.md5("text").alias("content_key"),
        )
        .filter((F.col("lang") == "en") & F.col("n_tokens").between(10, 1000) & (ttr > 0.3))
    )
    deduped = kept.groupBy("content_key").agg(F.min("doc_id").alias("doc_id"))
    return (
        deduped.join(kept, ["content_key", "doc_id"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@op(
    "purge_users",
    oracle="""
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
FROM events WHERE user_id NOT IN (0, 1, 2)
GROUP BY event_type
""",
)
def purge_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance delete (GDPR-style): anti-join the purge list out of
    the event log and account for what remains. The purge list is
    bounded → broadcast; at 100 TB this is the rewrite step of each
    affected partition, no full shuffle."""
    ev = table(spark, sf_dir, "events")
    purge = spark.range(3).select(F.col("id").alias("user_id"))  # users 0,1,2
    return (
        ev.join(F.broadcast(purge), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("user_id").alias("n_users"))
    )


@op(
    "vec_quantize_int8",
    oracle="""
WITH stats AS (
  SELECT vec_id, label, embedding,
         list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS lo,
         list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS hi
  FROM embeddings
)
SELECT vec_id, CAST(label AS BIGINT) AS label, lo, hi,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(floor((CAST(x AS DOUBLE) - lo) / (hi - lo) * 255 - 128) AS BIGINT)
       )) AS BIGINT) AS q_checksum
FROM stats
""",
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization per vector (min/max affine → [-128,
    127]) — the 4× storage compression step before ANN indexing at
    scale. floor() keeps both engines bit-identical (no round-half
    ambiguity); the oracle checks the integer checksum of every
    quantized vector plus the dequant params."""
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    lo, hi = F.array_min(emb), F.array_max(emb)
    q = F.transform(emb, lambda x: F.floor((x - lo) / (hi - lo) * 255 - 128).cast("long"))
    return e.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        lo.alias("lo"),
        hi.alias("hi"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, b: a + b).alias("q_checksum"),
    )


@op(
    "pipeline_observe_metrics",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dsum("l_extendedprice", 2)} AS total_price,
       CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted
FROM lineitem
""",
)
def pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline instrumentation via Spark's native `observe()`: the
    metrics (row count, exact total, discounted-line count) are
    accumulated ON the scan as it flows — no second pass over the
    data, unlike a separate metrics query. This is how a 100 TB ETL
    job self-reports volume/quality counters: observation metrics ride
    the existing action as AccumulatorV2s, costing one comparison per
    row, and arrive at the driver with the job result.

    The op triggers the pass and returns the observed metrics as a
    1-row DataFrame; the oracle recomputes them relationally — so the
    gate proves the accumulator path equals the declarative answer."""
    from pyspark.sql import Observation

    from lambda_hive_spark.helpers import dsum

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("etl_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice", 2).alias("total_price"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_price"], m["n_discounted"])],
        "n_rows bigint, total_price double, n_discounted bigint",
    )


@op(
    "dedup_url_canonicalize",
    oracle="""
WITH raw AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'https://Site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.Example.org:443'
              || '/docs/' || CAST(doc_id // 4 AS VARCHAR)
              || '/?utm_source=feed&id=' || CAST(doc_id // 4 AS VARCHAR) || '&lang=en'
      WHEN 1 THEN 'https://site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.example.org'
              || '/docs/' || CAST(doc_id // 4 AS VARCHAR)
              || '?lang=en&id=' || CAST(doc_id // 4 AS VARCHAR)
      WHEN 2 THEN 'https://site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.EXAMPLE.org'
              || '/docs/' || CAST(doc_id // 4 AS VARCHAR)
              || '/?id=' || CAST(doc_id // 4 AS VARCHAR) || '&utm_campaign=x&lang=en'
      ELSE 'https://site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.example.org'
              || '/docs/' || CAST(doc_id // 4 AS VARCHAR)
              || '?id=' || CAST(doc_id // 4 AS VARCHAR) || '&lang=en'
    END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
    'https://' || replace(lower(regexp_extract(url, '^https://([^/]+)', 1)), ':443', '')
      || regexp_replace(regexp_extract(url, '^https://[^/]+([^?]*)', 1), '/$', '')
      || '?' || array_to_string(list_sort(list_filter(
             string_split(regexp_extract(url, '\\?(.*)$', 1), '&'),
             x -> NOT starts_with(x, 'utm_'))), '&') AS canonical_url
  FROM raw
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MIN(doc_id) AS BIGINT) AS representative,
       array_to_string(list_sort(list(lpad(CAST(doc_id AS VARCHAR), 6, '0'))), ',') AS member_ids
FROM canon
GROUP BY canonical_url
HAVING COUNT(*) > 1
""",
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of every web
    crawl: lowercase the host, strip default ports and trailing
    slashes, drop utm_* tracking params, and sort the surviving query
    params, then group crawls whose canonical URL collides. Four
    deterministic mess variants are synthesized per logical URL (the
    fixture has no url column), and every group of 4 docs sharing
    doc_id//4 must land in one canonical group — a known-answer
    self-test of the canonicalizer. The synthesized host/path derive
    from the GROUP id only (the first version mixed in the per-doc
    source/lang columns, so no two variants could ever collide and
    the op graded green on 0 rows = 0 rows — round-5 vacuity audit).

    Scale: canonicalization is pure per-row string work fused into the
    scan; the only shuffle is the groupBy on the canonical key — the
    same hash-dedup shape as dedup_exact, so skew and payload behave
    identically at 100 TB (keys are short strings, never page
    bodies)."""
    d = table(spark, sf_dir, "documents")
    gid = (F.col("doc_id") / 4).cast("long").cast("string")
    site = ((F.col("doc_id") / 4).cast("long") % 20).cast("string")
    mess = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("https://Site"), site, F.lit(".Example.org:443"),
                        F.lit("/docs/"), gid, F.lit("/?utm_source=feed&id="),
                        gid, F.lit("&lang=en")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("https://site"), site, F.lit(".example.org"),
                       F.lit("/docs/"), gid, F.lit("?lang=en&id="), gid))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("https://site"), site, F.lit(".EXAMPLE.org"),
                       F.lit("/docs/"), gid, F.lit("/?id="), gid,
                       F.lit("&utm_campaign=x&lang=en")))
        .otherwise(
            F.concat(F.lit("https://site"), site, F.lit(".example.org"),
                     F.lit("/docs/"), gid, F.lit("?id="), gid, F.lit("&lang=en")))
    )
    u = d.select("doc_id", mess.alias("url"))
    host = F.replace(F.lower(F.parse_url("url", F.lit("HOST"))), F.lit(":443"), F.lit(""))
    path = F.regexp_replace(F.parse_url("url", F.lit("PATH")), "/$", "")
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.parse_url("url", F.lit("QUERY")), "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = u.select(
        "doc_id",
        F.concat(F.lit("https://"), host, path, F.lit("?"), q).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("representative"),
            F.array_join(
                F.array_sort(F.collect_list(F.lpad(F.col("doc_id").cast("string"), 6, "0"))),
                ",",
            ).alias("member_ids"),
        )
        .filter(F.col("n_variants") > 1)
    )


@op(
    "pipeline_incremental_ingest",
    oracle="""
WITH old AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
new AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
exact_hit AS (
  SELECT DISTINCT n.doc_id
  FROM new n JOIN old o ON md5(n.text) = md5(o.text)
),
nsh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
         i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS sh FROM new),
osh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
         i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS sh FROM old),
near_hit AS (
  SELECT DISTINCT a.doc_id
  FROM nsh a JOIN osh b
    ON len(list_intersect(a.sh, b.sh)) * 10 >= 6 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
    AND len(list_intersect(a.sh, b.sh)) > 0
)
SELECT n.doc_id,
       e.doc_id IS NOT NULL AS dup_exact,
       (e.doc_id IS NULL AND h.doc_id IS NOT NULL) AS dup_near,
       (e.doc_id IS NULL AND h.doc_id IS NULL) AS admitted
FROM new n
LEFT JOIN exact_hit e ON n.doc_id = e.doc_id
LEFT JOIN near_hit h ON n.doc_id = h.doc_id
""",
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl ingest: dedup a NEW batch (doc_id % 3 = 0
    stands in for today's crawl) against the EXISTING corpus without
    ever comparing old×old — the daily operation of a living training
    corpus, where re-deduping the whole corpus per batch is the
    classic accidental O(corpus²/batch). Exact layer: content-hash
    semi-match. Near layer: candidate pairs from an EQUI-join of
    new×old shingle postings (a pair with J > 0 shares a shingle —
    never a nested loop over doc pairs), verified exactly at J ≥ 0.6
    via array_intersect (the integer cross-multiplied threshold
    avoids a float compare at the boundary). Every new doc is
    classified exactly once: dup_exact ∨ dup_near ∨ admitted.

    Scale: the new batch is small relative to the corpus, so both
    layers are fact×batch joins (AQE broadcasts the batch-side
    aggregates); shingle buckets only expand new×old combinations."""
    d = table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 3 == 0)
    old = d.filter(F.col("doc_id") % 3 != 0)
    exact_hit = (
        new.alias("n")
        .join(old.alias("o"), F.md5(F.col("n.text")) == F.md5(F.col("o.text")))
        .select(F.col("n.doc_id").alias("doc_id"))
        .distinct()
    )
    from lambda_hive_spark.operators.llm import _shingles, _tokens

    nsh = new.select("doc_id", _shingles(_tokens()).alias("sh")).filter(F.size("sh") > 0)
    osh = old.select("doc_id", _shingles(_tokens()).alias("sh")).filter(F.size("sh") > 0)
    # Candidate generation stays an EQUI-join on the shingle (a pair
    # with J > 0 shares one) — never a nested-loop over new×old.
    npost = nsh.select(F.col("doc_id").alias("n_id"), F.explode("sh").alias("s"))
    opost = osh.select(F.col("doc_id").alias("o_id"), F.explode("sh").alias("s"))
    cand = npost.join(opost, "s").select("n_id", "o_id").distinct()
    inter = F.size(F.array_intersect("n_sh", "o_sh"))
    near_hit = (
        cand.join(nsh.withColumnsRenamed({"doc_id": "n_id", "sh": "n_sh"}), "n_id")
        .join(osh.withColumnsRenamed({"doc_id": "o_id", "sh": "o_sh"}), "o_id")
        .filter(inter * 10 >= 6 * (F.size("n_sh") + F.size("o_sh") - inter))
        .select(F.col("n_id").alias("doc_id"))
        .distinct()
    )
    e = exact_hit.withColumnsRenamed({"doc_id": "e_id"})
    h = near_hit.withColumnsRenamed({"doc_id": "h_id"})
    out = (
        new.select("doc_id")
        .join(e, new.doc_id == e.e_id, "left")
        .join(h, new.doc_id == h.h_id, "left")
    )
    return out.select(
        "doc_id",
        F.col("e_id").isNotNull().alias("dup_exact"),
        (F.col("e_id").isNull() & F.col("h_id").isNotNull()).alias("dup_near"),
        (F.col("e_id").isNull() & F.col("h_id").isNull()).alias("admitted"),
    )


@op(
    "pipeline_dataset_card",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens, md5(text) AS h
  FROM documents
),
dups AS (
  SELECT CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_docs
  FROM (SELECT COUNT(*) AS cnt FROM tok GROUP BY h)
),
top_lang AS (
  SELECT lang FROM tok GROUP BY lang
  ORDER BY COUNT(*) DESC, lang ASC NULLS FIRST LIMIT 1
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS n_docs,
       (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM tok) AS n_langs,
       (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM tok) AS total_tokens,
       (SELECT CAST(MIN(n_tokens) AS BIGINT) FROM tok) AS min_tokens,
       (SELECT CAST(MAX(n_tokens) AS BIGINT) FROM tok) AS max_tokens,
       (SELECT n_dup_docs FROM dups) AS n_exact_dup_docs,
       (SELECT lang FROM top_lang) AS top_lang
""",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset datasheet (model-card companion): one row of
    corpus-level facts — doc/language counts, token totals and range,
    exact-duplicate excess, dominant language — the numbers every
    dataset release documents. Three bounded aggregates composed with
    broadcast cross joins; the md5 dup census reuses dedup_exact's
    hash-group shape. Token totals are exact integers, so the card is
    hash-stable by construction."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    core = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    dups = (
        tok.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sum(F.col("cnt") - 1).cast("long").alias("n_exact_dup_docs"))
    )
    # lang tiebreak pinned ASC NULLS FIRST on both sides: an unlabeled
    # (NULL-lang) group tying for the top count would otherwise pick a
    # different winner per engine (Spark ASC is nulls-first, DuckDB's
    # is nulls-last).
    top_lang = (
        tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.asc_nulls_first("lang"))
        .limit(1).select(F.col("lang").alias("top_lang"))
    )
    return core.crossJoin(F.broadcast(dups)).crossJoin(F.broadcast(top_lang))


@op(
    "pipeline_dedup_report",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS shingles
  FROM documents
),
exact_groups AS (
  SELECT CAST(COUNT(CASE WHEN cnt > 1 THEN 1 END) AS BIGINT) AS n_dup_groups,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS n_removable
  FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY md5(text))
),
{_SQL_SHARED_PAIRS}
  GROUP BY 1, 2
),
near AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_near_pairs
  FROM pairs p JOIN sh x ON x.doc_id = p.doc_a JOIN sh y ON y.doc_id = p.doc_b
  WHERE (p.shared / (len(x.shingles) + len(y.shingles) - p.shared)) >= 0.6
),
corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT c.n_docs, g.n_dup_groups, g.n_removable, n.n_near_pairs,
       CAST(g.n_removable AS DOUBLE) / c.n_docs AS exact_dup_rate
FROM corpus c CROSS JOIN exact_groups g CROSS JOIN near n
""",
)
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup executive summary: corpus size, exact-duplicate
    groups and removable-doc count, near-dup pair count at the
    production threshold, and the exact-dup rate — the one-row report
    a curation run publishes (its history over runs IS the corpus
    drift monitor). Composes the dedup_exact hash census with the
    bucket-pair near-dup pipeline; both already scale, and the report
    adds only scalar aggregates and broadcast cross joins on 1-row
    inputs."""
    from lambda_hive_spark.operators.llm import dedup_ngram_jaccard

    d = table(spark, sf_dir, "documents")
    corpus = d.agg(F.count(F.lit(1)).alias("n_docs"))
    groups = d.groupBy(F.md5("text")).agg(F.count(F.lit(1)).alias("cnt"))
    exact = groups.agg(
        F.count(F.when(F.col("cnt") > 1, 1)).alias("n_dup_groups"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0))
        .cast("long")
        .alias("n_removable"),
    )
    near = dedup_ngram_jaccard(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_near_pairs")
    )
    return (
        corpus.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(near))
        .select(
            "n_docs", "n_dup_groups", "n_removable", "n_near_pairs",
            (F.col("n_removable").cast("double") / F.col("n_docs")).alias("exact_dup_rate"),
        )
    )
