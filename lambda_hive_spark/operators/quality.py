"""Corpus-quality curation operators (SURVEY.md §2.10 extension,
round 3 batch 2): the quality gates a pretraining pipeline applies
after dedup — within-document repetition scoring (the Gopher/C4
"repetitive doc" filter), deterministic weighted sampling, outlier
winsorization, and a k-anonymity audit over quasi-identifiers.

Same determinism rule as training.py: sampling keys on md5(doc_id),
never rand(), so a 100 TB re-run reproduces the same corpus.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lambda_hive_spark.helpers import dsum, sql_dsum
from lambda_hive_spark.io import par_table, table
from lambda_hive_spark.operators.llm import _SQL_SHINGLES, _shingles, _tokens
from lambda_hive_spark.registry import op


@op(
    "doc_repetition",
    oracle=f"""
WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents),
e  AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct
  FROM e GROUP BY doc_id
)
SELECT doc_id, n_grams, n_distinct,
       (n_grams - n_distinct) / n_grams AS dup_frac
FROM agg
""",
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score: the fraction of a doc's
    3-gram shingles that are duplicates of an earlier shingle in the
    SAME doc — the Gopher-style "repetitive document" quality signal
    (boilerplate, keyword stuffing, decode loops all spike it). Unlike
    the dedup_* family this never compares documents to each other:
    explode + groupBy(doc_id) is embarrassingly parallel, one shuffle
    keyed on doc_id, and dup_frac = exact-int arithmetic in double so
    the hash is engine-stable."""
    sh = par_table(spark, sf_dir, "documents").select(
        "doc_id", _shingles(_tokens()).alias("shingles")
    )
    e = sh.select("doc_id", F.explode("shingles").alias("s"))
    agg = e.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_distinct("s").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        (
            (F.col("n_grams") - F.col("n_distinct")) / F.col("n_grams")
        ).alias("dup_frac"),
    )


@op(
    "sample_weighted",
    oracle="""
WITH w AS (
  SELECT doc_id, lang, n_chars,
         LEAST(n_chars / 400.0, 0.99) AS p,
         lpad(lower(to_hex(CAST(floor(LEAST(n_chars / 400.0, 0.99) * 4294967296) AS BIGINT))), 8, '0') AS thr
  FROM documents
)
SELECT doc_id, lang, n_chars, p AS sample_p
FROM w
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < thr
""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling: each doc keeps with probability
    proportional to its length (p = min(n_chars/400, 0.99)) by
    comparing the first 8 hex chars of md5(doc_id) against the
    hex-encoded threshold floor(p·16^8) — a per-row projection with no
    rand(), no shuffle, reproducible under retries and repartitioning.
    This is how you length-upsample quality docs at 100 TB without a
    second pass. Hex compare is lowercase-on-both-engines (Spark hex()
    is uppercase, DuckDB to_hex() is uppercase — both lowered) and the
    threshold stays 8 digits because p < 1 bounds it under 16^8."""
    d = table(spark, sf_dir, "documents")
    p = F.least(F.col("n_chars") / 400.0, F.lit(0.99))
    thr = F.lpad(
        F.lower(F.hex(F.floor(p * 4294967296))), 8, "0"
    )
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    return (
        d.select("doc_id", "lang", "n_chars", p.alias("sample_p"), thr.alias("thr"), key.alias("key"))
        .filter(F.col("key") < F.col("thr"))
        .select("doc_id", "lang", "n_chars", "sample_p")
    )


@op(
    "winsorize_cap",
    oracle="""
WITH q AS (
  SELECT quantile_cont(l_quantity, 0.05) AS lo,
         quantile_cont(l_quantity, 0.95) AS hi
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, l_quantity,
       LEAST(GREATEST(l_quantity, lo), hi) AS capped_qty
FROM lineitem, q
WHERE l_returnflag = 'A'
""",
)
def winsorize_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp a measure to its [p05, p95] band — the
    standard outlier treatment before loss-weighting or normalization.
    The two percentiles are ONE global aggregate (map-side partial
    t-digest at 100 TB; exact interpolated percentile here because the
    oracle must hash-match — integral l_quantity keeps the
    interpolation exact, see agg_percentile), broadcast back as a
    1-row scalar crossJoin, then a pure per-row least/greatest. Two
    scans total, no shuffle of the fact table."""
    li = table(spark, sf_dir, "lineitem")
    q = li.agg(
        F.percentile(F.col("l_quantity"), 0.05).alias("lo"),
        F.percentile(F.col("l_quantity"), 0.95).alias("hi"),
    )
    return (
        li.filter(F.col("l_returnflag") == "A")
        .crossJoin(F.broadcast(q))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.least(
                F.greatest(F.col("l_quantity"), F.col("lo")), F.col("hi")
            ).alias("capped_qty"),
        )
    )


@op(
    "k_anonymity_audit",
    oracle="""
SELECT lang, source, CAST(n_chars // 500 AS BIGINT) AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS group_size
FROM documents
GROUP BY lang, source, n_chars // 500
HAVING COUNT(*) < 5
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (lang, source, length-bucket)
    quasi-identifier triple: emit every equivalence class smaller than
    k=5 — the groups whose members a release would re-identify.
    Complements the redaction side (pipeline_pii_scrub) and the
    deletion side (purge_users). The length bucket (500-char bands) is
    part of the QI because document length IS identifying in released
    corpora; it also keeps the audit discriminating at every fixture
    scale — the original (lang, source) pair had no group under k at
    sf0.1 and graded vacuously-empty there (round-5 vacuity audit),
    while exact n_chars made every group a violation. One groupBy with
    map-side combine; output is O(#violating classes), so at 100 TB
    the result stays tiny even though the input doesn't."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang", "source",
            F.floor(F.col("n_chars") / 500).cast("long").alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 5)
    )


@op(
    "text_unigram_logprob",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
lm AS (
  SELECT term,
         round(ln(COUNT(*) / (SELECT COUNT(*) FROM tok)), 8) AS logp
  FROM tok GROUP BY term
),
scored AS (
  SELECT t.doc_id, lm.logp FROM tok t JOIN lm ON lm.term = t.term
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round({sql_dsum("logp", 8)} / COUNT(*), 6)
         AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: a corpus unigram LM (term
    frequency / corpus size), then each document's mean token
    log-probability — the cheap stand-in for the KenLM/perplexity
    filter every pretraining pipeline runs; unusually low avg_logprob
    flags gibberish, unusually high flags degenerate repetition.

    Float-parity: ln() can differ by 1 ulp across libm
    implementations, so per-term logp is rounded to 8 decimals FIRST
    (noise ~1e-16 sits 8 orders below the boundary), then summed
    exactly through decimal(18,8) and divided by the token count —
    deterministic at any parallelism.

    Scale: the LM is a map-combinable groupBy over terms; scoring is a
    broadcast join of the (small) vocabulary back onto the token
    stream; per-doc reduce is map-combinable again. Vocabulary too big
    to broadcast at 100 TB → shuffle join on term, same plan shape."""
    tok = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    )
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    lm = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .crossJoin(F.broadcast(total))
        .select("term", F.round(F.log(F.col("tf") / F.col("n_total")), 8).alias("logp"))
    )
    return (
        tok.join(F.broadcast(lm), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(dsum("logp", 8) / F.count(F.lit(1)), 6).alias("avg_logprob"),
        )
    )


@op(
    "pipeline_mix_temperature",
    oracle=f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS n FROM counts),
raw AS (
  SELECT source, n_docs, round(POWER(n_docs / tot.n, 0.7), 8) AS w_raw
  FROM counts, tot
)
SELECT source, n_docs,
       round(w_raw / (SELECT {sql_dsum("w_raw", 8)} FROM raw), 6)
         AS mix_weight
FROM raw
""",
)
def pipeline_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (T = 1/0.7): sampling weights
    w_d ∝ (n_d/N)^0.7, the standard exponent-reweighting that
    up-samples small domains without letting any one domain dominate
    (used for multilingual/domain mixtures since mBERT/T5). Output per
    source: document count and normalized mixture weight.

    Float-parity: pow() is libm-dependent → raw weights rounded to 8
    decimals before the exact decimal normalization sum; the final
    division is one IEEE op on identical doubles. Scale: one
    map-combinable groupBy over the corpus; everything after runs on a
    domains-sized table (tiny), broadcast back when applied."""
    counts = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = counts.agg(F.sum("n_docs").alias("n"))
    raw = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(F.pow(F.col("n_docs") / F.col("n"), F.lit(0.7)), 8).alias("w_raw"),
    )
    norm = raw.agg(dsum("w_raw", 8).alias("z"))
    return raw.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        F.round(F.col("w_raw") / F.col("z"), 6).alias("mix_weight"),
    )


@op(
    "text_clean_normalize",
    oracle="""
WITH dirty AS (
  SELECT doc_id,
         upper(regexp_replace(substr(text, 1, 10), '[^ -~]', '', 'g'))
           || '   ' || text || ' !!! ' || chr(9) AS t
  FROM documents
),
cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(
              lower(regexp_replace(t, '[^A-Za-z0-9 ]', ' ', 'g')),
              ' +', ' ', 'g')) AS c
  FROM dirty
)
SELECT doc_id, md5(c) AS clean_md5,
       CAST(length(c) AS BIGINT) AS clean_len,
       CAST(length(c) - length(replace(c, ' ', '')) + 1 AS BIGINT) AS n_tokens
FROM cleaned
""",
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the first transform of every web-corpus
    pipeline: lowercase, strip non-alphanumerics, collapse runs of
    whitespace, trim. The fixture text is already clean, so the op
    first dirties it DETERMINISTICALLY (uppercased prefix, extra
    spaces, punctuation, a tab) and then proves the normalizer maps
    the dirty form back — both engines apply the identical dirty+clean
    chain, and the output carries md5/length/token-count of the
    result rather than the text itself (hash-stable, shuffle-light).

    Regex parity: the patterns use only literal classes ([^A-Za-z0-9 ],
    '[^ -~]', ' +') where Java regex and RE2 semantics coincide — both
    treat a multibyte char as ONE unit of the negated class.
    Case-mapping parity: upper/lower run only on printable-ASCII text
    (the prefix is ASCII-stripped before upper; the ASCII strip runs
    BEFORE lower), because the engines' Unicode case maps differ —
    Java applies full mappings (upper('ß') = 'SS') while DuckDB's
    utf8proc is 1:1 — so casing any multibyte char would diverge.

    Scale: per-row string kernels inside codegen, no shuffle, and the
    md5 projection means downstream exchanges move 16 bytes per doc,
    not documents."""
    d = table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.upper(F.regexp_replace(F.substring("text", 1, 10), "[^ -~]", "")),
        F.lit("   "), F.col("text"),
        F.lit(" !!! "), F.lit("\t"),
    )
    c = F.trim(
        F.regexp_replace(
            F.lower(F.regexp_replace(dirty, "[^A-Za-z0-9 ]", " ")), " +", " "
        )
    )
    return d.select(
        "doc_id",
        F.md5(c).alias("clean_md5"),
        F.length(c).cast("bigint").alias("clean_len"),
        (F.length(c) - F.length(F.regexp_replace(c, " ", "")) + 1)
        .cast("bigint")
        .alias("n_tokens"),
    )


@op(
    "quality_rule_audit_orders",
    oracle="""
SELECT 'custkey_not_null' AS rule,
       CAST(COUNT(CASE WHEN o_custkey IS NOT NULL THEN 1 END) AS BIGINT) AS n_pass,
       CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS n_fail
FROM orders
UNION ALL
SELECT 'price_in_range',
       CAST(COUNT(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000 THEN 1 END) AS BIGINT),
       CAST(COUNT(*) - COUNT(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000 THEN 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'status_in_set',
       CAST(COUNT(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 END) AS BIGINT),
       CAST(COUNT(*) - COUNT(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'date_after_epoch',
       CAST(COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' THEN 1 END) AS BIGINT),
       CAST(COUNT(*) - COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' THEN 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderkey_unique',
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
FROM orders
""",
)
def quality_rule_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule audit (the dbt-test / Deequ
    shape): not-null, range, set-membership, temporal and uniqueness
    rules evaluated in ONE scan — each rule is a conditional count
    inside the same aggregate, and the per-rule rows are unpacked from
    a struct array afterward, so adding a rule never adds a pass over
    the data (the oracle's 5-scan UNION ALL is the naive formulation).
    Uniqueness rides the same aggregate via count_distinct. This is
    the gate a pipeline runs before promoting a landed batch.

    Null policy (pinned on both sides): n_fail = total − n_pass, so a
    row whose rule predicate evaluates to NULL (e.g. a NULL price for
    price_in_range) counts as FAILING — the conservative audit
    posture, and the only formulation both engines agree on.

    Sibling: `quality_rules_audit` (operators/profiling.py) is the
    same audit shape over LINEITEM with a violations-only report and a
    composite-key uniqueness rule — kept separate deliberately to
    cover both report conventions and both PK shapes."""
    o = table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    def rule(name, pred):
        p = F.count(F.when(pred, 1))
        return F.struct(F.lit(name).alias("rule"), p.alias("n_pass"), (n - p).alias("n_fail"))
    price_ok = (F.col("o_totalprice") > 0) & (F.col("o_totalprice") < 1000000)
    agg = o.agg(
        F.array(
            rule("custkey_not_null", F.col("o_custkey").isNotNull()),
            rule("price_in_range", price_ok),
            rule("status_in_set", F.col("o_orderstatus").isin("F", "O", "P")),
            rule(
                "date_after_epoch",
                F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"),
            ),
            F.struct(
                F.lit("orderkey_unique").alias("rule"),
                F.count_distinct(F.col("o_orderkey")).alias("n_pass"),
                (n - F.count_distinct(F.col("o_orderkey"))).alias("n_fail"),
            ),
        ).alias("rules")
    )
    return agg.select(F.explode("rules").alias("r")).select("r.rule", "r.n_pass", "r.n_fail")


@op(
    "quality_key_gaps",
    oracle="""
WITH holed AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 97 <> 0
),
gaps AS (
  SELECT LAG(k) OVER (ORDER BY k) AS prev_k, k
  FROM holed
)
SELECT prev_k + 1 AS gap_start, k - 1 AS gap_end,
       CAST(k - prev_k - 1 AS BIGINT) AS n_missing
FROM gaps WHERE k - prev_k > 1
""",
)
def quality_key_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection over a supposedly-dense key space: lag
    the sorted keys and report every (gap_start, gap_end, n_missing)
    range — the integrity check that catches dropped ingest batches
    (holes are injected deterministically here: every 97th key
    removed, so the oracle sees the identical holes). The lag runs on
    the KEY projection only, through the two-phase
    global_lag_over_keys: lag within floor(k/width) range buckets in
    parallel, boundary rows stitched from the bounded bucket summary's
    running max — the exact output of the global lag with no
    single-partition window over the keys (pick width ≈ keyspace/1e5
    at deployment scale; exactness is width-independent)."""
    from lambda_hive_spark.scale_windows import global_lag_over_keys

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 != 0)
    gaps = global_lag_over_keys(
        o.select(F.col("o_orderkey").alias("k")), "k", 4096, "prev_k"
    )
    return gaps.filter(F.col("k") - F.col("prev_k") > 1).select(
        (F.col("prev_k") + 1).alias("gap_start"),
        (F.col("k") - 1).alias("gap_end"),
        (F.col("k") - F.col("prev_k") - 1).alias("n_missing"),
    )
