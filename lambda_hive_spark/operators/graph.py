"""Graph operators over the near-duplicate pair graph (SURVEY.md
§2.12, round 3): node degrees and triangle counting. Together with
dedup_clusters (connected components, llm.py) these cover the graph
shapes a dedup pipeline actually consults: degree → which docs are
template-spam hubs; triangles → how clique-like (vs chain-like) the
duplicate clusters are, i.e. whether transitive dedup is safe.

Edges come from dedup_ngram_jaccard (exact J ≥ 0.6 pairs), so these
ops also demonstrate operator composition: a registered op's DataFrame
feeds another plan without materialization boundaries.

Reference file:line: N/A — empty reference dir (SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_hive_spark.operators.extras import RP_PAIRS_ORACLE
from lambda_hive_spark.operators.llm import (
    _SQL_SHARED_PAIRS,
    _SQL_SHINGLES,
    dedup_ngram_jaccard,
)
from lambda_hive_spark.registry import op

# Shared oracle prefix: the exact-Jaccard pair graph (doc_a < doc_b),
# same construction as _JACCARD_ORACLE / _CLUSTERS_ORACLE in llm.py.
_SQL_SIM_EDGES = f"""
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents),
{_SQL_SHARED_PAIRS}
  GROUP BY a.doc_id, b.doc_id
),
sim AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p JOIN sh x ON x.doc_id = p.doc_a JOIN sh y ON y.doc_id = p.doc_b
  WHERE (p.shared / (len(x.shingles) + len(y.shingles) - p.shared)) >= 0.6
)"""


def _sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list (doc_a < doc_b), materialized once via localCheckpoint
    — the graph ops traverse it 2-3×, and at 100 TB you'd persist the
    edge list rather than re-derive the Jaccard join per traversal."""
    return (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )


@op(
    "graph_degree",
    oracle=f"""
WITH {_SQL_SIM_EDGES},
edges AS (SELECT doc_a AS u FROM sim UNION ALL SELECT doc_b FROM sim)
SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
FROM edges GROUP BY u
""",
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node degree in the near-dup graph — the hub report (a doc
    near-duplicating hundreds of others is template spam; its whole
    neighborhood usually drops together). Undirected degree = count
    over the symmetrized edge list: one explode-free union + groupBy,
    output O(#nodes). Degree is also the quantity the 100 TB triangle
    count orders by (see graph_triangles)."""
    p = _sim_pairs(spark, sf_dir)
    both = p.select(F.col("doc_a").alias("doc_id")).unionByName(
        p.select(F.col("doc_b").alias("doc_id"))
    )
    return both.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))


@op(
    "graph_triangles",
    oracle=f"""
WITH {_SQL_SIM_EDGES}
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM sim e1
JOIN sim e2 ON e2.doc_a = e1.doc_a AND e2.doc_b > e1.doc_b
JOIN sim e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b
""",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count: with edges kept (doc_a < doc_b), a
    triangle a<b<c is exactly one wedge (a,b)+(a,c), b<c, closed by
    edge (b,c) — each triangle counted once, no orientation dedup
    needed. Two equi-joins on node ids; the wedge fan-out is
    Σ deg(v)², so the 100 TB refinement is orienting edges from
    low-degree to HIGH-degree endpoints first (not by id), which
    bounds the expansion at O(m^1.5) regardless of hubs — noted here,
    unneeded at fixture degrees (max deg 4). Clique-heavy duplicate
    clusters → high triangle density → transitive 'keep one per
    component' dedup is safe; chain-like → it over-merges."""
    p = _sim_pairs(spark, sf_dir)
    e1 = p.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = p.select(F.col("doc_a").alias("a2"), F.col("doc_b").alias("c"))
    e3 = p.select(F.col("doc_a").alias("b3"), F.col("doc_b").alias("c3"))
    wedges = e1.join(e2, (F.col("a") == F.col("a2")) & (F.col("c") > F.col("b")))
    tri = wedges.join(
        e3, (F.col("b3") == F.col("b")) & (F.col("c3") == F.col("c"))
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


_PR_ITERS = 3
_PR_INIT = 1_000_000_000_000  # per-node starting mass (scaled integer)
_PR_BASE = (15 * _PR_INIT) // 100  # (1-d) teleport share, d = 0.85


def _pr_iter_sql(prev: str, this: str) -> str:
    return f"""{this} AS (
  SELECT d.v AS node,
         CAST({_PR_BASE} + (85 * SUM(p.pr // g.deg)) // 100 AS BIGINT) AS pr
  FROM dir d
  JOIN {prev} p ON p.node = d.u
  JOIN deg g ON g.u = d.u
  GROUP BY d.v
)"""


@op(
    "graph_pagerank",
    oracle=f"""
WITH {_SQL_SIM_EDGES},
dir AS (
  SELECT doc_a AS u, doc_b AS v FROM sim
  UNION ALL SELECT doc_b, doc_a FROM sim
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM dir GROUP BY u),
pr0 AS (SELECT u AS node, CAST({_PR_INIT} AS BIGINT) AS pr FROM deg),
{",".join(_pr_iter_sql(f"pr{i}", f"pr{i + 1}") for i in range(_PR_ITERS))}
SELECT node AS doc_id, pr AS pr_scaled FROM pr{_PR_ITERS}
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {iters} unrolled iterations) over the
    near-duplicate pair graph — ranks which documents sit at the
    center of duplication neighborhoods (template hubs) vs the
    periphery.

    Exactness design: the whole computation is INTEGER arithmetic on
    mass scaled by 1e12 — contributions are integral divisions
    pr div deg, damping is (85*sum) div 100 — so both engines produce
    bit-identical bigints with NO float accumulation anywhere, at any
    parallelism: integer sums are order-independent, which is what a
    float PageRank can never guarantee under reordered reduction.

    Scale: each iteration is contributions(join on u) → groupBy(v) —
    the standard edge-partitioned Pregel step as two DataFrame ops.
    The edge list is checkpointed once and reused across iterations
    (at 100 TB: persist + co-partition edges and ranks on node so each
    iteration is a zero-exchange local join; AQE handles hub skew)."""
    edges = _sim_pairs(spark, sf_dir)
    dir_e = edges.selectExpr("doc_a AS u", "doc_b AS v").unionByName(
        edges.selectExpr("doc_b AS u", "doc_a AS v")
    ).localCheckpoint(eager=True)
    deg = dir_e.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    src = dir_e.join(deg, "u")  # (u, v, deg) reused every iteration
    pr = deg.select(F.col("u").alias("node"), F.lit(_PR_INIT).cast("bigint").alias("pr"))
    for _ in range(_PR_ITERS):
        pr = (
            src.join(pr, src["u"] == pr["node"])
            .select(F.col("v"), F.expr("pr div deg").alias("contrib"))
            .groupBy("v")
            .agg(
                (F.lit(_PR_BASE) + F.expr("(85 * sum(contrib)) div 100"))
                .cast("bigint")
                .alias("pr")
            )
            .select(F.col("v").alias("node"), "pr")
        )
    return pr.select(F.col("node").alias("doc_id"), F.col("pr").alias("pr_scaled"))


graph_pagerank.__doc__ = graph_pagerank.__doc__.format(iters=_PR_ITERS)


@op(
    "graph_link_prediction",
    oracle="""
WITH sim AS (
  SELECT vec_a AS node_a, vec_b AS node_b FROM ({rp_pairs}) rp
),
und AS (
  SELECT node_a AS u, node_b AS v FROM sim
  UNION ALL
  SELECT node_b, node_a FROM sim
),
cn AS (
  SELECT a.u AS node_a, b.u AS node_b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
  GROUP BY 1, 2
)
SELECT c.node_a, c.node_b, c.common_neighbors
FROM cn c
LEFT JOIN sim s ON c.node_a = s.node_a AND c.node_b = s.node_b
WHERE s.node_a IS NULL AND c.common_neighbors >= 1
""".format(rp_pairs=RP_PAIRS_ORACLE),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over the EMBEDDING cosine
    graph (sim_pairs_rp_lsh edges): non-adjacent vector pairs sharing
    a neighbor — the pairs the cosine τ (or LSH recall) *just* missed,
    i.e. the candidates a human review queue or a lower-threshold
    re-check should see first. The doc near-dup graph is deliberately
    NOT used here: its clusters are exact-clone cliques with zero open
    wedges at every fixture scale, which made this op pass vacuously
    on 0 rows = 0 rows (the round-5 vacuity audit); the embedding
    graph has real open-triangle structure at all three scales.
    Wedge counting is the same neighbor-equi-join shape as
    graph_triangles — quadratic only inside a hub's neighborhood,
    never across the corpus — and the known-edge exclusion is one
    anti join on the (small) edge list."""
    from lambda_hive_spark.operators.extras import sim_pairs_rp_lsh

    edges = sim_pairs_rp_lsh(spark, sf_dir).select(
        F.col("vec_a").alias("node_a"), F.col("vec_b").alias("node_b")
    ).localCheckpoint(eager=True)
    und = edges.selectExpr("node_a AS u", "node_b AS v").unionAll(
        edges.selectExpr("node_b AS u", "node_a AS v")
    )
    a = und.withColumnsRenamed({"u": "node_a"})
    b = und.withColumnsRenamed({"u": "node_b"})
    cn = (
        a.join(b, "v")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return cn.join(edges, ["node_a", "node_b"], "left_anti").filter(
        F.col("common_neighbors") >= 1
    )


@op(
    "graph_component_density",
    oracle=f"""
WITH RECURSIVE
{_SQL_SIM_EDGES.lstrip()},
und AS (SELECT doc_a AS u, doc_b AS v FROM sim UNION ALL SELECT doc_b, doc_a FROM sim),
verts AS (SELECT DISTINCT u AS node FROM und),
reach(node, lab) AS (
  SELECT node, node FROM verts
  UNION
  SELECT e.v, r.lab FROM reach r JOIN und e ON e.u = r.node WHERE r.lab < e.v
),
labels AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
nodes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM labels GROUP BY 1),
cedges AS (
  SELECT l.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM sim s JOIN labels l ON s.doc_a = l.doc_id
  GROUP BY 1
)
SELECT n.cluster_id, n.n_nodes, c.n_edges,
       CAST(2 * c.n_edges AS DOUBLE) / CAST(n.n_nodes * (n.n_nodes - 1) AS DOUBLE) AS density
FROM nodes n JOIN cedges c ON n.cluster_id = c.cluster_id
""",
)
def graph_component_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster edge density of the near-dup graph: 2E/(N·(N-1)) —
    density 1.0 means a clique (transitive dedup is safe: keep one
    representative), low density means chained borderline pairs where
    collapsing the whole cluster would merge distinct content. This is
    the decision metric between dedup_clusters (collapse all) and
    dedup_apply_representative (collapse verified pairs only). Exact
    integer counts; one double division. Edges attribute to their
    endpoint's cluster (endpoints agree by construction), so the whole
    diagnostic is two bounded groupBys over the edge/label lists."""
    from lambda_hive_spark.operators.llm import dedup_clusters

    labels = dedup_clusters(spark, sf_dir)
    edges = _sim_pairs(spark, sf_dir)
    nodes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    cedges = (
        edges.join(labels.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    density = (2 * F.col("n_edges")).cast("double") / (
        F.col("n_nodes") * (F.col("n_nodes") - 1)
    ).cast("double")
    return nodes.join(cedges, "cluster_id").select(
        "cluster_id", "n_nodes", "n_edges", density.alias("density")
    )


@op(
    "graph_bfs_levels",
    oracle=f"""
WITH RECURSIVE {_SQL_SIM_EDGES},
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM sim
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM sim
),
seed AS (SELECT MIN(src) AS s FROM und),
bfs(node, lvl) AS (
  SELECT s, 0 FROM seed WHERE s IS NOT NULL
  UNION
  SELECT u.dst, b.lvl + 1
  FROM bfs b JOIN und u ON u.src = b.node
  WHERE b.lvl < 8
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(lvl) AS BIGINT) AS lvl
FROM bfs GROUP BY node
""",
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-hop levels from a deterministic seed (the smallest
    node in the similarity graph), radius-capped at 8 hops — the
    neighborhood-expansion primitive behind 'find everything
    transitively similar to this document, and how far'. Iterative
    frontier expansion: each round joins the FRONTIER (not the visited
    set) against the checkpointed edge set, anti-joins already-visited
    nodes, and stops early when the frontier empties (per-round driver
    check is a scalar count — the BFS twin of dedup_clusters'
    convergence checksum). First-discovery level IS the shortest
    distance, so no per-node min is ever recomputed.

    The oracle replays the search as a recursive CTE — the one oracle
    in the registry exercising WITH RECURSIVE parity — with the same
    radius cap making the recursion finite. At 100 TB the loop is the
    standard distributed BFS (frontier joins edge partitions, visited
    set stays partitioned by node); the 8-hop cap bounds rounds the
    way every production neighborhood query does."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    und = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # materialize edges once — every BFS round joins against them
    # (dedup_clusters' measured 79 s -> 11 s lesson)
    und = und.localCheckpoint(eager=True)

    seed_row = und.agg(F.min("src")).collect()[0][0]  # scalar only
    if seed_row is None:
        return spark.createDataFrame([], "node bigint, lvl bigint")

    frontier = spark.createDataFrame([(int(seed_row), 0)], "node bigint, lvl bigint")
    visited = frontier.localCheckpoint(eager=True)
    frontier = visited
    for lvl in range(1, 9):
        nxt = (
            frontier.join(und, frontier.node == und.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("lvl", F.lit(lvl).cast("bigint"))
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:  # scalar only — frontier drained
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited
