"""Statistical feature-engineering operators: per-dimension vector
stats, z-score normalization, and banded edit-distance dedup.

Parity technique: means/variances accumulate through scale-12
decimal (order-independent on each engine) and the OUTPUTS are
rounded well above the residual cross-engine noise. The noise exists
because DuckDB's double->DECIMAL(18,12) cast multiplies in double
space (rint(x*1e12), up to 1 unit-last-place off) while Spark's
BigDecimal cast rounds exactly -- measured ~1e-14 drift on means.
Rounding at 1e-6..1e-8 sits ~6 orders above that noise and ~6 below
data resolution, so a value landing on a round-half boundary has
probability ~1e-7 (vs ~coin-flip if one rounds raw double sums,
helpers.r4). Scale-6 money sums don't have this problem: 2-decimal
inputs times 1e6 are exactly representable doubles.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark.helpers import dsum, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op


@op(
    "vec_stats",
    oracle=f"""
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT CAST(pos AS BIGINT) AS pos, COUNT(*) AS n,
       round({sql_dsum("val", 12)} / COUNT(*), 8) AS mean,
       round(({sql_dsum("val * val", 12)} - COUNT(*) * POW({sql_dsum("val", 12)} / COUNT(*), 2))
         / (COUNT(*) - 1), 8) AS var
FROM ex GROUP BY pos
""",
)
def vec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (the fit step of feature
    normalization): posexplode → decimal-exact mean/variance per
    coordinate. 64 output rows regardless of corpus size — the
    shuffle carries (pos, partial sums), nothing else."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode(F.col("embedding").cast("array<double>"))).withColumnsRenamed(
        {"col": "val"}
    )
    n = F.count(F.lit(1))
    mean = dsum("val", 12) / n
    var = (dsum(F.col("val") * F.col("val"), 12) - n * F.pow(mean, 2)) / (n - 1)
    return ex.groupBy(F.col("pos").cast("bigint").alias("pos")).agg(
        n.alias("n"), F.round(mean, 8).alias("mean"), F.round(var, 8).alias("var")
    )


@op(
    "zscore_normalize",
    oracle=f"""
WITH stats AS (
  SELECT event_type, COUNT(*) AS n,
         {sql_dsum("value", 12)} / COUNT(*) AS mu,
         sqrt(({sql_dsum("value * value", 12)}
               - COUNT(*) * POW({sql_dsum("value", 12)} / COUNT(*), 2)) / (COUNT(*) - 1)) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, round((e.value - s.mu) / s.sigma, 6) AS z
FROM events e JOIN stats s USING (event_type)
""",
)
def zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score: group stats from decimal-exact sums,
    broadcast back onto every row (|groups| is bounded — never a
    window over the full table at scale)."""
    ev = table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    mu = dsum("value", 12) / n
    sigma = F.sqrt(
        (dsum(F.col("value") * F.col("value"), 12) - n * F.pow(mu, 2)) / (n - 1)
    )
    stats = ev.groupBy("event_type").agg(mu.alias("mu"), sigma.alias("sigma"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
        )
    )


_BAND = 20  # length-band width; |len diff| > band ⇒ distance > 0.3·len anyway


@op(
    "dedup_edit_distance",
    oracle=f"""
WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents
           WHERE octet_length(encode(text)) = length(text))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.L - b.L) <= {_BAND}
WHERE levenshtein(a.text, b.text) <= CAST(0.3 * greatest(a.L, b.L) AS BIGINT)
""",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by edit distance with length banding: a pair can
    only be within 30% edit distance if lengths differ by ≤ that, so
    each doc joins only its own and adjacent length bands (the b side
    is replicated to 3 bands → every candidate pair meets exactly
    once). At 100 TB the band is the shuffle key and the quadratic
    work stays inside bands.

    Scope (pinned on both sides): single-byte-per-char documents only
    (octet_length = length). The engines' Levenshtein UNITS genuinely
    differ on multibyte text — Spark counts codepoint edits, DuckDB
    1.0 counts BYTE edits (measured: levenshtein('café','cafe') = 1
    vs 2) — so cross-engine parity is only well-defined where the two
    units coincide. A multilingual deployment keeps Spark's codepoint
    distance and drops the oracle instead of this filter."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.octet_length("text") == F.length("text"))
        .select("doc_id", "text", F.length("text").alias("L"))
    )
    a = d.withColumn("band", F.floor(F.col("L") / _BAND))
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("L").alias("L_b"),
        F.explode(
            F.array(
                F.floor(F.col("L") / _BAND) - 1,
                F.floor(F.col("L") / _BAND),
                F.floor(F.col("L") / _BAND) + 1,
            )
        ).alias("band"),
    )
    lev = F.levenshtein("text", "text_b")
    return (
        a.join(b, "band")
        .filter(
            (F.col("doc_id") < F.col("doc_b"))
            & (F.abs(F.col("L") - F.col("L_b")) <= _BAND)
            & (lev <= F.floor(0.3 * F.greatest("L", "L_b")))
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("doc_b"),
            lev.cast("long").alias("edit_dist"),
        )
    )


@op(
    "vec_pca_power_iter",
    oracle=f"""
WITH d AS (
  SELECT embedding,
         list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.125),
                     (acc, x) -> acc + x) AS dv
  FROM embeddings
),
ex AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) * dv AS contrib
  FROM d
)
SELECT CAST(pos AS BIGINT) AS pos, COUNT(*) AS n,
       round({sql_dsum('contrib', 12)}, 8) AS v1
FROM ex GROUP BY pos
""",
)
def vec_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus' top principal
    direction: v1 = Xᵀ(X·v0) with the deterministic start vector
    v0 = (1/8,…,1/8) (1/8 is exact binary, so every per-row product is
    the same IEEE double on both engines). The row dot X·v0 is a
    left-fold (helpers.dot shape); the dimension sums accumulate
    through scale-12 decimal and round at 1e-8 — the stats.py parity
    pattern. A full PCA loops this + renormalizes; one step is the
    verifiable unit.

    Scale: X·v0 is computed inside the scan projection (no shuffle);
    the transpose-sum shuffles (pos, partial decimal sums) — 64 groups
    regardless of corpus size, the same shape as vec_stats."""
    e = table(spark, sf_dir, "embeddings")
    base = e.select(F.col("embedding").cast("array<double>").alias("emb"))
    dv = F.aggregate(
        F.transform("emb", lambda x: x * F.lit(0.125)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ex = base.withColumn("dv", dv).select("dv", F.posexplode("emb"))
    return (
        ex.groupBy(F.col("pos").cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum(F.col("col") * F.col("dv"), 12), 8).alias("v1"),
        )
    )


@op(
    "sim_label_centroids",
    oracle=f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
cent AS (
  SELECT label, pos, round({sql_dsum('val', 12)} / COUNT(*), 8) AS c
  FROM ex GROUP BY label, pos
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         {sql_dsum('a.c * b.c', 12)} AS dot_ab
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b,
       round(dot_ab, 6) AS centroid_dot
FROM pairs
""",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class diagnostics: per-label centroids (the
    decimal-exact per-dimension mean, rounded at 1e-8 — the vec_stats
    pattern), then the dot product between every label pair's
    centroids — high off-diagonal values flag visually-confusable
    classes before training ever starts. The pairwise stage joins on
    DIMENSION (64 rows per label), so the 'matrix' is a 10×10-bounded
    aggregate, never an all-vectors cross product; the dot sums also
    accumulate through scale-12 decimal because they cross rows."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnsRenamed({"col": "val"})
    cent = ex.groupBy("label", "pos").agg(
        F.round(dsum("val", 12) / F.count(F.lit(1)), 8).alias("c")
    )
    a = cent.withColumnsRenamed({"label": "label_a", "c": "ca"})
    b = cent.withColumnsRenamed({"label": "label_b", "c": "cb"})
    return (
        a.join(b, (a.pos == b.pos) & (a.label_a < b.label_b))
        .groupBy("label_a", "label_b")
        .agg(F.round(dsum(F.col("ca") * F.col("cb"), 12), 6).alias("centroid_dot"))
    )


# PQ codebook: 4 subspaces x 16 centroids x 16 dims, derived from a
# pure-arithmetic formula both engines evaluate identically (no RNG,
# no hash library): c[s][k][d] = ((s*131 + k*17 + d*7) % 21 - 10)/10.
_PQ_SUB, _PQ_K, _PQ_DIM = 4, 16, 16


# The ONE SQL definition of the PQ encoder (codebook distances +
# argmin tie-break), shared by vec_pq_encode's oracle and
# vec_pq_recall_eval's oracle so the recall gate provably evaluates
# the same codes the encoder emits.
_PQ_CODES_SQL = f"""
sub AS (
  SELECT vec_id, s.s AS s, k.k AS k,
         list_reduce(list_transform(range(1, {_PQ_DIM} + 1),
           d -> POW(CAST(embedding[s.s * {_PQ_DIM} + d] AS DOUBLE)
                - CAST(((s.s * 131 + k.k * 17 + (d - 1) * 7) % 21 - 10) AS DOUBLE) / 10.0, 2)),
           (acc, x) -> acc + x) AS dist
  FROM embeddings,
       (SELECT unnest(range(0, {_PQ_SUB})) AS s) s,
       (SELECT unnest(range(0, {_PQ_K})) AS k) k
),
best AS (
  SELECT vec_id, s, k,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, k) AS rn
  FROM sub
),
codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1)
"""


def _pq_code_cols(emb) -> list:
    """Spark twin of _PQ_CODES_SQL: the per-subspace argmin code
    columns, in s order — shared by vec_pq_encode (index build) and
    vec_pq_recall_eval (ADC probe) so the two ops cannot drift."""

    def dist(s: int, k: int):
        def step(acc, d):
            x = F.element_at(emb, d + F.lit(s * _PQ_DIM + 1)).cast("double")
            c = ((F.lit(s * 131 + k * 17) + d * F.lit(7)) % 21 - 10).cast(
                "double"
            ) / 10.0
            diff = x - c
            return acc + diff * diff

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(_PQ_DIM - 1)), F.lit(0.0), step
        )

    cols = []
    for s in range(_PQ_SUB):
        dists = [
            F.struct(dist(s, k).alias("dist"), F.lit(k).alias("k"))
            for k in range(_PQ_K)
        ]
        # argmin via array_min over (dist, k) structs: struct ordering
        # compares dist first, then k — the deterministic tie-break.
        cols.append(F.array_min(F.array(*dists)).getField("k"))
    return cols


@op(
    "vec_pq_encode",
    oracle=f"""
WITH {_PQ_CODES_SQL}
SELECT vec_id,
       array_to_string(list(CAST(k AS VARCHAR) ORDER BY s), ',') AS pq_code
FROM codes
GROUP BY vec_id
""",
)
def vec_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the compression step of every
    large-scale ANN index (FAISS IVF-PQ shape): split each 64-d vector
    into 4 subspaces of 16 dims, assign each to its nearest of 16
    codebook centroids (argmin L2², ties broken by centroid id), emit
    the 4-byte code. The codebook is a fixed arithmetic formula so
    both engines derive it bit-identically; per-row distances are the
    same IEEE fold (left-to-right, like helpers.dot) — a real PQ
    trainer would swap in learned centroids without touching the
    assignment plan. 64 bytes/vector → 4 bytes: the 16× memory lever
    that makes billion-vector search fit RAM.

    Scale: everything is per-row expression work fused into the scan —
    no shuffle, no UDF, no broadcast. Each subspace distance is a
    higher-order `aggregate` fold over the dims (centroid values
    derived arithmetically IN the lambda, same left-to-right IEEE
    fold as the oracle's list_reduce), NOT an unrolled flat
    expression: unrolling the 4×16×16 sweep generated >64 KB of Java
    per projection, which janino cannot compile — every run paid a
    failed whole-stage-codegen attempt before interpreting the giant
    tree anyway, and on a loaded driver heap the compile attempt
    itself OOMed (caught by a 320-op sweep; same lesson as
    sim_knn_exact's rejected unroll, BASELINE.md §7)."""
    e = table(spark, sf_dir, "embeddings")
    codes = [c.cast("string") for c in _pq_code_cols(F.col("embedding"))]
    return e.select("vec_id", F.concat_ws(",", *codes).alias("pq_code"))


@op(
    "stats_chi2_independence",
    oracle=f"""
WITH obs AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2
),
row_m AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY seg),
col_m AS (SELECT nat, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY nat),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT o.seg, o.nat, o.o,
         CAST(r.r * c.c AS DOUBLE) / t.n AS e
  FROM obs o JOIN row_m r ON o.seg = r.seg
             JOIN col_m c ON o.nat = c.nat
             CROSS JOIN tot t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       round({sql_dsum("(o - e) * (o - e) / e", 12)}, 6) AS chi2
FROM cells
""",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence statistic for market segment × nation: observed
    cell counts vs marginal-product expectations, Σ(O−E)²/E over the
    OBSERVED cells (the zero-cell convention stated explicitly — both
    sides use the same one, which is what makes the statistic
    comparable at all). Expectations are exact-integer products
    divided once in double; the cell terms cross rows, so they
    accumulate through scale-12 decimal and round at 1e-6. The whole
    test is two marginal aggregates + a broadcast scalar over a
    bounded contingency table — the correlation screen for
    categorical columns at any scale."""
    c = table(spark, sf_dir, "customer")
    obs = c.groupBy(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
    ).agg(F.count(F.lit(1)).alias("o"))
    row_m = obs.groupBy("seg").agg(F.sum("o").cast("long").alias("r"))
    col_m = obs.groupBy("nat").agg(F.sum("o").cast("long").alias("c"))
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    cells = (
        obs.join(F.broadcast(row_m), "seg")
        .join(F.broadcast(col_m), "nat")
        .crossJoin(F.broadcast(tot))
        .select(
            "o", ((F.col("r") * F.col("c")).cast("double") / F.col("n")).alias("e")
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(dsum(term, 12), 6).alias("chi2"),
    )


@op(
    "vec_norm_audit",
    oracle=f"""
WITH norms AS (
  SELECT label,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (acc, x) -> acc + x)) AS l2
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN abs(l2 - 1.0) < 0.001 THEN 1 END) AS BIGINT) AS n_unit,
       round({sql_dsum("l2", 12)} / COUNT(*), 8) AS mean_l2,
       MIN(l2) AS min_l2, MAX(l2) AS max_l2
FROM norms GROUP BY label
""",
)
def vec_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit: per-label L2-norm census — count
    within unit tolerance, mean (decimal-accumulated, rounded), exact
    min/max. THE precondition check before any cosine-as-dot shortcut
    (sim_knn_exact, dedup_embedding assume unit norms; this op is the
    gate that licenses the assumption). The squared-sum fold is
    left-to-right (helpers.dot shape) and sqrt is IEEE-correctly-
    rounded, so every per-row norm is bit-identical cross-engine;
    min/max need no rounding at all."""
    e = table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norms = e.select(F.col("label").cast("long").alias("label"), F.sqrt(sq).alias("l2"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.abs(F.col("l2") - 1.0) < 0.001, 1)).alias("n_unit"),
        F.round(dsum("l2", 12) / F.count(F.lit(1)), 8).alias("mean_l2"),
        F.min("l2").alias("min_l2"),
        F.max("l2").alias("max_l2"),
    )


@op(
    "vec_pq_recall_eval",
    oracle=f"""
WITH {_PQ_CODES_SQL},
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
adc_sub AS (
  SELECT q.vec_id AS query_id, codes.vec_id AS neighbor_id, codes.s,
         list_reduce(list_transform(range(1, {_PQ_DIM} + 1),
           d -> POW(CAST(q.embedding[codes.s * {_PQ_DIM} + d] AS DOUBLE)
                - CAST(((codes.s * 131 + codes.k * 17 + (d - 1) * 7) % 21 - 10) AS DOUBLE) / 10.0, 2)),
           (acc, x) -> acc + x) AS dsub
  FROM q JOIN codes ON codes.vec_id <> q.vec_id
),
adc AS (
  SELECT query_id, neighbor_id,
         list_reduce(list(dsub ORDER BY s), (a, b) -> a + b) AS adc
  FROM adc_sub GROUP BY query_id, neighbor_id
),
approx AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
        FROM adc)
  WHERE rn <= 5
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(range(1, len(q.embedding) + 1),
           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
           (acc, x) -> acc + x) AS cosine
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
),
exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored)
  WHERE rn <= 5
),
hits AS (
  SELECT e.query_id AS qid, COUNT(*) AS n_hits
  FROM exact e JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
),
truth AS (SELECT query_id AS qid, COUNT(*) AS n_truth FROM exact GROUP BY query_id),
per_q AS (
  SELECT CAST(t.qid AS VARCHAR) AS query,
         CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         CAST(t.n_truth AS BIGINT) AS n_truth,
         CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_truth AS recall
  FROM truth t LEFT JOIN hits h ON h.qid = t.qid
)
SELECT query, n_hits, n_truth, recall FROM per_q
UNION ALL
SELECT 'ALL', CAST(SUM(n_hits) AS BIGINT), CAST(SUM(n_truth) AS BIGINT),
       CAST(SUM(n_hits) AS DOUBLE) / SUM(n_truth)
FROM per_q
""",
)
def vec_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ asymmetric-distance search (ADC: full-precision
    query against 4-byte PQ codes — the FAISS IVF-PQ probe shape)
    versus the exact brute-force top-5: the quality gate that decides
    whether 16x compression (vec_pq_encode) is usable for retrieval,
    the PQ twin of sim_recall_eval's RP-LSH gate.

    Plan shape: the corpus is PQ-encoded once (per-row argmin over the
    arithmetic codebook, the offline index build); each broadcast
    query then scores corpus CODES (4 subspace folds against the
    code's centroid — at real scale against a 16-entry lookup table
    per subspace, here the same arithmetic formula both engines
    evaluate identically). Per-query top-5 is a rank-limited window;
    recall is a semi-join of two 5-row sets per query. The sum over
    subspaces is an ORDERED fold (s ascending) on both engines —
    aggregation-order float drift cannot touch the ranking.

    The fixture embeddings are isotropic (worst case for coarse
    quantizers — see sim_knn_ivf's note), so recall here is the
    conservative floor, and the driver hash-gates the exact recall
    numbers, not just the shape."""
    from lambda_hive_spark.operators.llm import sim_knn_exact

    e = table(spark, sf_dir, "embeddings")
    code_cols = [
        c.alias(f"k{s}") for s, c in enumerate(_pq_code_cols(F.col("embedding")))
    ]
    codes = e.select(F.col("vec_id").alias("neighbor_id"), *code_cols)

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )

    def adc_sub(s: int):
        kcol = F.col(f"k{s}")

        def step(acc, d):
            x = F.element_at(F.col("q_emb"), d + F.lit(s * _PQ_DIM + 1)).cast("double")
            c = ((F.lit(s * 131) + kcol * F.lit(17) + d * F.lit(7)) % 21 - 10).cast(
                "double"
            ) / 10.0
            diff = x - c
            return acc + diff * diff

        return F.aggregate(F.sequence(F.lit(0), F.lit(_PQ_DIM - 1)), F.lit(0.0), step)

    adc = adc_sub(0)
    for s in range(1, _PQ_SUB):
        adc = adc + adc_sub(s)  # ordered fold, s ascending — matches oracle
    pairs = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    from pyspark.sql.window import Window

    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    approx = (
        pairs.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= 5)
        .select("query_id", F.col("neighbor_id").alias("n_approx"))
    )

    exact = sim_knn_exact(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("n_exact")
    )
    hits = (
        exact.join(
            approx,
            (exact.query_id == approx.query_id) & (exact.n_exact == approx.n_approx),
        )
        .groupBy(exact.query_id.alias("qid"))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    truth = exact.groupBy(F.col("query_id").alias("qid")).agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    per_q = truth.join(hits, "qid", "left").select(
        F.col("qid").cast("string").alias("query"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.col("n_truth").cast("long").alias("n_truth"),
        (F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_truth")).alias("recall"),
    )
    overall = per_q.agg(
        F.lit("ALL").alias("query"),
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.sum("n_truth").cast("long").alias("n_truth"),
        (F.sum("n_hits").cast("double") / F.sum("n_truth")).alias("recall"),
    )
    return per_q.unionByName(overall)
