"""Full-text retrieval operators over the `documents` corpus: BM25
ranking, boolean (AND) search, and exact phrase search — the query
side of the inverted-index/TF-IDF family in llm.py.

Scale design (100 TB):
- The query set is BOUNDED (a broadcast literal frame); every op
  prunes the exploded token stream with a broadcast join on query
  terms BEFORE any shuffle, so the aggregated state is proportional
  to matching postings, never the corpus vocabulary.
- BM25's df/idf statistics are computed only for query terms (a
  per-term scalar frame, broadcast back), not the full vocabulary —
  the full-vocabulary statistics build lives in text_inverted_index.
- Top-k per query compiles to WindowGroupLimit (rank-limit pushdown),
  so each partition retains k rows per query before the final merge.
- Float parity with the DuckDB oracle follows the graded text_tf_idf
  idiom: transcendentals (ln) rounded to 6 decimals, per-row products
  left as deterministic IEEE doubles, and the per-(query, doc) SUM
  accumulated through decimal (order-independent, helpers.dsum).

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lambda_hive_spark.helpers import dbl, dec, sql_dsum
from lambda_hive_spark.io import table
from lambda_hive_spark.registry import op

# Fixed query workload: terms drawn from the synthetic corpus
# vocabulary (TESTDATA.md) so every query has real matches at any sf.
_QUERIES: tuple[tuple[str, str], ...] = (
    ("q_spark", "spark query fast"),
    ("q_window", "window merge batch"),
    ("q_vector", "vector data stream"),
)
# BM25 parameters k1=1.2 / b=0.75 appear as literals in the Spark
# expressions AND the oracle SQL strings below (an f-string constant
# would obscure the oracle text the driver hashes); change them in
# both places together.
_TOPK = 10

# The distinct query vocabulary + tokenizer, shared by every op here:
# a tokenization change (e.g. lowercasing) must flow through BM25 and
# boolean search identically or their postings silently diverge.
_TERM_LITS: tuple[str, ...] = tuple(
    sorted({t for _, text in _QUERIES for t in text.split(" ")})
)
_TERM_IDX = {t: i for i, t in enumerate(_TERM_LITS)}


def _toks():
    return F.split(F.col("text"), " ")


def _tf_col(t: str):
    """Per-document term frequency as a map-side column: count of
    exact matches inside the token array. Single-arg lambda via this
    factory — a `lambda x, t=t:` default would make PySpark pass
    (element, INDEX): 2-arg array lambdas get the ordinal as the
    second argument."""
    return F.size(F.filter(_toks(), lambda x: x == F.lit(t)))


_QUERY_VALUES = ", ".join(
    f"('{qid}', '{term}')" for qid, text in _QUERIES for term in text.split(" ")
)


def _bm25_score(stats: str) -> str:
    """Exact per-(query, doc) sum of the BM25 term scores; `stats`
    names the CTE holding the corpus size `n` and mean length `avgdl`."""
    return sql_dsum(f"""
           round(ln(({stats}.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0), 6)
           * (CAST(tf.tf AS DOUBLE) * 2.2)
           / (CAST(tf.tf AS DOUBLE)
              + 1.2 * (1.0 - 0.75 + 0.75 * CAST(lens.dl AS DOUBLE) / {stats}.avgdl))
        """)


_BM25_ORACLE = f"""
WITH q(query_id, term) AS (VALUES {_QUERY_VALUES}),
lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
corpus AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(dl) / COUNT(*) AS avgdl
  FROM lens
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf
  FROM tok
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY term, doc_id
),
dfq AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         {_bm25_score("corpus")} AS score
  FROM tf
  JOIN dfq USING (term)
  JOIN lens USING (doc_id)
  JOIN q ON q.term = tf.term
  CROSS JOIN corpus
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, CAST(rn AS INT) AS rnk, score
FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rn
  FROM scored
)
WHERE rn <= {_TOPK}
"""


@op("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} per query (Okapi, k1=1.2, b=0.75): the standard
    lexical ranker of every retrieval/RAG pipeline, shaped for scale
    as TWO scan passes and NO pre-window aggregation:

    1. Stats pass — one shuffle-free global aggregate collects N,
       Σdl, and per-query-term document frequencies (codegen'd
       array_contains conditional counts; the result is bounded by
       the query vocabulary, like sim_knn's broadcast query batch).
       Token counts come from space counting (length difference —
       identical to len(string_split) since consecutive spaces make
       empty tokens in both engines), no array materialization.
    2. Scoring pass — per-term tf columns via size(filter(tokens)),
       idf folded in as CONSTANT expressions (Catalyst constant
       folding runs the same engine-side ln/round the join
       formulation used), per-query scores as decimal-exact sums of
       the per-term scores (cast DECIMAL(18,6) per term — the dsum
       idiom element-wise, so term order cannot perturb the hash),
       stack() to long form, and straight into the rank-limited
       window (WindowGroupLimit): the only shuffle in the whole
       plan carries ≤ k rows per query per partition.

    Earlier formulations, measured at 500k docs and rejected:
    explode + (term,doc) groupBy + df-join (6.4 s — the hash
    aggregation of millions of posting rows dominates, and the df
    join diamond re-runs the tokenize scan), same with a window df
    (6.8 s). This map-side shape: ~2 s, and it is the one that
    scales — scoring is embarrassingly parallel, stats are one
    bounded-output scan."""
    d = table(spark, sf_dir, "documents")

    dl_expr = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + F.lit(1)
    )

    row = d.agg(
        F.count(F.lit(1)),
        F.sum(dl_expr),
        *[F.count(F.when(F.array_contains(_toks(), t), 1)) for t in _TERM_LITS],
    ).first()
    n_docs, sum_dl, dfs = row[0], row[1], row[2:]
    if not n_docs or sum_dl is None:
        # empty corpus, or a non-empty corpus whose every text is NULL
        # (SUM over all-NULL comes back None — ADVICE r6): no stats to
        # rank against — return the empty result with the contract
        # schema (the oracle also yields 0 rows), instead of a None/0
        # division crash
        return spark.createDataFrame(
            [], "query_id string, doc_id bigint, rnk int, score double"
        )
    avgdl = sum_dl / n_docs  # exact ints -> one IEEE division, both engines
    df = dict(zip(_TERM_LITS, dfs))

    def idf(t: str):
        # literal-arithmetic idf: constant-folded by Catalyst with the
        # same engine-side ln/round as the column formulation
        return F.round(
            F.log(
                (F.lit(float(n_docs)) - F.lit(float(df[t])) + F.lit(0.5))
                / (F.lit(float(df[t])) + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        )

    tf_cols = [_tf_col(t).alias(f"tf_{_TERM_IDX[t]}") for t in _TERM_LITS]
    dld = F.col("dl").cast("double")
    norm = F.lit(1.2) * (
        F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * dld / F.lit(avgdl)
    )

    def term_score(t: str):
        tfd = F.col(f"tf_{_TERM_IDX[t]}").cast("double")
        return idf(t) * (tfd * F.lit(2.2)) / (tfd + norm)

    def query_score(text: str):
        # element-wise dsum: per-term scores quantized by the same
        # per-row decimal cast as the oracle's sql_dsum
        parts = [dec(term_score(t)) for t in text.split(" ")]
        total = parts[0]
        for p in parts[1:]:
            total = total + p
        return dbl(total)

    wide = d.select("doc_id", dl_expr.alias("dl"), *tf_cols).select(
        "doc_id", *[query_score(text).alias(qid) for qid, text in _QUERIES]
    )
    stack_args = ", ".join(f"'{qid}', {qid}" for qid, _ in _QUERIES)
    scored = wide.select(
        "doc_id",
        F.expr(f"stack({len(_QUERIES)}, {stack_args}) AS (query_id, score)"),
    ).filter(F.col("score") > 0)

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("query_id", "doc_id", F.col("rn").cast("int").alias("rnk"), "score")
    )


_BOOLEAN_ORACLE = f"""
WITH q(query_id, term) AS (VALUES {_QUERY_VALUES}),
qsize AS (SELECT query_id, COUNT(*) AS n_terms FROM q GROUP BY query_id),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
hit AS (
  SELECT q.query_id, tok.doc_id, q.term, COUNT(*) AS tf
  FROM tok JOIN q ON q.term = tok.term
  GROUP BY q.query_id, tok.doc_id, q.term
),
agg AS (
  SELECT query_id, doc_id,
         CAST(COUNT(*) AS BIGINT) AS matched_terms,
         CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM hit GROUP BY query_id, doc_id
)
SELECT a.query_id, a.doc_id, a.total_tf
FROM agg a JOIN qsize s USING (query_id)
WHERE a.matched_terms = s.n_terms
"""


@op("text_boolean_search", oracle=_BOOLEAN_ORACLE)
def text_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing EVERY
    term of the query, with the summed term frequency as a tie-breaking
    relevance hint. Pure integer semantics — no float anywhere — and a
    pure MAP plan: per-term tf columns over the token array, a per-
    query AND-fold, stack to long form. No join, no aggregation, no
    shuffle; at 100 TB this is one embarrassingly parallel scan whose
    output is exactly the match list."""
    d = table(spark, sf_dir, "documents")

    # Same map-side shape as BM25 (see its docstring for the measured
    # rejection of the explode + groupBy formulation): the shared
    # per-term tf columns, then per query an AND-fold (every tf > 0)
    # and the summed tf — no join, no aggregation, no shuffle anywhere.
    wide = d.select(
        "doc_id", *[_tf_col(t).alias(f"tf_{_TERM_IDX[t]}") for t in _TERM_LITS]
    )

    def query_cols(qid: str, text: str):
        tfs = [F.col(f"tf_{_TERM_IDX[t]}") for t in text.split(" ")]
        hit = tfs[0] > 0
        total = tfs[0]
        for c in tfs[1:]:
            hit = hit & (c > 0)
            total = total + c
        return F.when(hit, total).otherwise(F.lit(None)).cast("long").alias(qid)

    scored = wide.select(
        "doc_id", *[query_cols(qid, text) for qid, text in _QUERIES]
    )
    stack_args = ", ".join(f"'{qid}', {qid}" for qid, _ in _QUERIES)
    return (
        scored.select(
            "doc_id",
            F.expr(
                f"stack({len(_QUERIES)}, {stack_args}) AS (query_id, total_tf)"
            ),
        )
        .filter(F.col("total_tf").isNotNull())
        .select("query_id", "doc_id", "total_tf")
    )


# Two-word phrases over the same corpus vocabulary.
_PHRASES: tuple[tuple[str, str, str], ...] = (
    ("p_fast_table", "fast", "table"),
    ("p_data_stream", "data", "stream"),
    ("p_merge_batch", "merge", "batch"),
)

_PHRASE_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{pid}' AS phrase_id, doc_id,
       CAST(len(list_filter(range(1, len(toks)),
            i -> toks[i] = '{w1}' AND toks[i+1] = '{w2}')) AS BIGINT) AS n_occ
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
WHERE len(list_filter(range(1, len(toks)),
          i -> toks[i] = '{w1}' AND toks[i+1] = '{w2}')) > 0
"""
    for pid, w1, w2 in _PHRASES
)


@op("text_phrase_search", oracle=_PHRASE_ORACLE)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact adjacent-bigram phrase search: for each two-word phrase,
    the documents containing the words consecutively, with occurrence
    counts. Entirely JVM higher-order functions over the token array
    (no explode, no shuffle at all until nothing — the op is a scan +
    filter; at 100 TB it is embarrassingly parallel and pushes the
    projection of `text` only). Positions are 1-indexed on both
    engines (element_at / DuckDB list indexing); sub-2-token documents
    short-circuit the when() guard because Spark's sequence(1, 0)
    counts DOWN rather than producing an empty array."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    n = F.size("toks")

    # ONE scan: all phrase counts as parallel columns over the same
    # token array (the first version union-ed three scans — 3x the
    # tokenize work), then stack() to long form. Still shuffle-free.
    occ_cols = []
    for pid, w1, w2 in _PHRASES:
        occ = F.when(
            n >= 2,
            F.size(
                F.filter(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: (F.element_at("toks", i) == w1)
                    & (F.element_at("toks", i + F.lit(1)) == w2),
                )
            ),
        ).otherwise(F.lit(0))
        occ_cols.append(occ.cast("long").alias(pid))
    wide = toks.select("doc_id", *occ_cols)
    stack_args = ", ".join(f"'{pid}', {pid}" for pid, _, _ in _PHRASES)
    return (
        wide.select(
            "doc_id",
            F.expr(
                f"stack({len(_PHRASES)}, {stack_args}) AS (phrase_id, n_occ)"
            ),
        )
        .filter(F.col("n_occ") > 0)
        .select("phrase_id", "doc_id", "n_occ")
    )


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


# The fusion oracles re-embed the BM25 chain as CTEs.
# _BM25_ORACLE is "WITH <ctes> SELECT <final>"; splitting at its final
# projection turns the whole ranking into `bm25 AS (...)` verbatim —
# the fused oracle provably ranks over the exact rows the graded BM25
# formulation emits.
_BM25_SPLIT_AT = "SELECT query_id, doc_id, CAST(rn AS INT) AS rnk, score"
_BM25_CTES, _BM25_FINAL = _BM25_ORACLE.split(_BM25_SPLIT_AT, 1)

_RRF_ORACLE = f"""{_BM25_CTES.rstrip()},
bm25 AS (
  SELECT query_id, doc_id, rn AS r_bm25
  FROM (SELECT query_id, doc_id, score,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored)
  WHERE rn <= {_TOPK}
),
prior AS (
  SELECT b.query_id, b.doc_id, b.r_bm25,
         row_number() OVER (
           PARTITION BY b.query_id ORDER BY d.n_chars DESC, b.doc_id ASC
         ) AS r_prior
  FROM bm25 b JOIN documents d USING (doc_id)
),
fused AS (
  SELECT query_id, doc_id,
         CAST(r_bm25 AS BIGINT) AS r_bm25, CAST(r_prior AS BIGINT) AS r_prior,
         1.0 / ({_RRF_K} + r_bm25) + 1.0 / ({_RRF_K} + r_prior) AS rrf
  FROM prior
)
SELECT query_id, doc_id, r_bm25, r_prior, rrf, CAST(rn AS INT) AS rnk
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rn
      FROM fused)
WHERE rn <= 5
"""


@op("retrieval_rrf_fusion", oracle=_RRF_ORACLE)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60): combine the BM25 lexical ranking
    with a document-length prior ranking into one list — the standard
    multi-signal composition of every retrieval stack (lexical +
    semantic + priors), done on RANKS so incomparable score scales
    never need calibration. Fusion runs WITHIN the BM25 top-{k} per
    query, so the second ranking costs one window over ≤{k} rows per
    query — at 100 TB the candidate generation (BM25) pays the scan,
    the fusion is free. Float surface: 1/(60+r) over small integer
    ranks, one two-term IEEE add per row — identical on both engines
    by construction.

    The prior here is doc length (n_chars desc — a stand-in any real
    deployment swaps for an embedding-similarity or quality-model
    ranking); the doc_id tie-break keeps every rank total-ordered."""
    bm25 = text_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rnk").cast("long").alias("r_bm25")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    wp = Window.partitionBy("query_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    # documents scan probes the BROADCAST 30-row candidate list (the
    # bm25 subtree appears exactly once — a bm25-side join would
    # execute the scoring plan twice)
    prior = (
        d.join(F.broadcast(bm25), "doc_id")
        .withColumn("r_prior", F.row_number().over(wp).cast("long"))
    )
    rrf = (
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("r_bm25"))
        + F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("r_prior"))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        prior.select("query_id", "doc_id", "r_bm25", "r_prior", rrf.alias("rrf"))
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id", "doc_id", "r_bm25", "r_prior", "rrf",
            F.col("rn").cast("int").alias("rnk"),
        )
    )


_QMAP = {qid: i for i, (qid, _) in enumerate(_QUERIES)}
_QMAP_VALUES = ", ".join(f"('{qid}', {v})" for qid, v in _QMAP.items())

_HYBRID_ORACLE = f"""{_BM25_CTES.rstrip().rstrip(',')},
bm25 AS ({_BM25_SPLIT_AT}{_BM25_FINAL}),
qmap(query_id, qvec) AS (VALUES {_QMAP_VALUES}),
vec AS (
  SELECT b.query_id, b.doc_id,
         list_reduce(list_transform(range(1, len(qe.embedding) + 1),
           i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)),
           (acc, x) -> acc + x) AS cosine
  FROM bm25 b
  JOIN qmap m ON m.query_id = b.query_id
  JOIN embeddings qe ON qe.vec_id = m.qvec
  JOIN embeddings ce ON ce.vec_id = b.doc_id
),
ranked AS (
  SELECT v.query_id, v.doc_id,
         CAST(b.rnk AS BIGINT) AS r_bm25,
         CAST(row_number() OVER (PARTITION BY v.query_id
              ORDER BY v.cosine DESC, v.doc_id ASC) AS BIGINT) AS r_vec
  FROM vec v JOIN bm25 b ON b.query_id = v.query_id AND b.doc_id = v.doc_id
),
fused AS (
  SELECT query_id, doc_id, r_bm25, r_vec,
         1.0 / (60.0 + r_bm25) + 1.0 / (60.0 + r_vec) AS rrf
  FROM ranked
)
SELECT query_id, doc_id, r_bm25, r_vec, rrf, CAST(rn AS INT) AS rnk
FROM (
  SELECT query_id, doc_id, r_bm25, r_vec, rrf,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rn
  FROM fused
)
WHERE rn <= 5
"""


@op("retrieval_hybrid_text_vector", oracle=_HYBRID_ORACLE)
def retrieval_hybrid_text_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — lexical BM25 fused with embedding cosine via
    reciprocal-rank fusion (k=60): the composition every modern RAG /
    search stack serves (sparse + dense, fused on RANKS so the
    incomparable score scales never need calibration). Candidate
    generation is the BM25 top-10 (pays the corpus scan once); the
    dense signal re-ranks ONLY those candidates — per query that is
    ≤10 embedding lookups and dot products, so at 100 TB the semantic
    stage costs nothing beyond the lexical stage regardless of corpus
    size (the persisted-index serving twin lives in
    lake_text_index_probe / lake_ann_index_probe, lake.py).

    Each query's dense vector is the fixture embedding whose vec_id is
    the query's ordinal (the synthetic corpus aligns doc_id and vec_id
    as the same entity, verified 0..N at every sf); candidates join
    their embeddings BY document id — a realigned corpus drops
    missing pairs identically on both engines (inner-join semantics).
    Float surface: the proven left-fold dot (helpers.dot idiom) plus
    1/(60+rank) over small integers — one two-term IEEE add per row."""
    from lambda_hive_spark.helpers import dot

    bm25 = text_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rnk").cast("long").alias("r_bm25")
    )
    qmap = spark.createDataFrame(
        list(_QMAP.items()), "query_id string, qvec long"
    )
    e = table(spark, sf_dir, "embeddings")
    qe = (
        e.join(F.broadcast(qmap), e.vec_id == F.col("qvec"))
        .select("query_id", F.col("embedding").alias("q_emb"))
    )
    cand = (
        e.join(F.broadcast(bm25), e.vec_id == bm25.doc_id)
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "doc_id",
            "r_bm25",
            dot(
                F.col("q_emb").cast("array<double>"),
                F.col("embedding").cast("array<double>"),
            ).alias("cosine"),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    ranked = cand.withColumn("r_vec", F.row_number().over(wv).cast("long"))
    rrf = (
        F.lit(1.0) / (F.lit(60.0) + F.col("r_bm25"))
        + F.lit(1.0) / (F.lit(60.0) + F.col("r_vec"))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        ranked.select("query_id", "doc_id", "r_bm25", "r_vec", rrf.alias("rrf"))
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id", "doc_id", "r_bm25", "r_vec", "rrf",
            F.col("rn").cast("int").alias("rnk"),
        )
    )
