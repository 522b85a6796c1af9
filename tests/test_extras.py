"""Quality checks for the extras ops that parity alone can't cover:
IVF ANN recall against the exact brute-force baseline."""

from __future__ import annotations

from lambda_hive_spark.registry import all_ops
from tests.conftest import SF_DIR


def _neighbors(df):
    out = {}
    for row in df.collect():
        out.setdefault(row.query_id, set()).add(row.neighbor_id)
    return out


def test_ivf_full_probe_equals_exact(spark):
    """Probing all 10 cells removes pruning — the IVF machinery must
    then reproduce brute force exactly (scores, ranks, and all)."""
    from lambda_hive_spark.operators.extras import ivf_knn

    ops = all_ops()
    exact = sorted(map(tuple, ops["sim_knn_exact"].fn(spark, SF_DIR).collect()))
    full = sorted(map(tuple, ivf_knn(spark, SF_DIR, nprobe=10).collect()))
    assert full == exact


def test_ivf_pruned_recall_beats_coverage(spark):
    """At nprobe=3 of 10 cells, recall must beat the 0.3 random-
    coverage baseline — i.e. the index concentrates neighbors better
    than chance even on this isotropic (worst-case) corpus."""
    ops = all_ops()
    exact = _neighbors(ops["sim_knn_exact"].fn(spark, SF_DIR))
    ivf = _neighbors(ops["sim_knn_ivf"].fn(spark, SF_DIR))
    assert set(ivf) == set(exact)  # same query set
    hits = sum(len(ivf[q] & exact[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    assert recall > 0.3, f"recall@5 = {recall:.2f} not better than coverage"


def test_ivf_probes_prune(spark):
    """The IVF path must score fewer candidates than brute force —
    sanity that pruning actually happens (3 of 10 cells probed)."""
    from lambda_hive_spark.operators.extras import N_PROBE, ivf_index

    cent, lists = ivf_index(spark, SF_DIR)
    n_cells = cent.count()
    assert n_cells == 10
    assert N_PROBE < n_cells
    # inverted lists cover the corpus exactly once
    emb = lists.count()
    assert emb == spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()


def test_ivf_cell_order_ties_and_null_cell(spark, tmp_path):
    """The cell order every IVF oracle replays (`cdot DESC, cell ASC`,
    DuckDB's NULL-last default): an exact tie goes to the lower cell, a
    NULL cell loses every tie, nearest_cells keeps the nprobe best under
    that order, and the lake cell scan skips a probed NULL cell."""
    from pyspark.sql import functions as F

    from lambda_hive_spark import lakehouse as lh
    from lambda_hive_spark.operators.extras import assign_cells, nearest_cells
    from lambda_hive_spark.operators.lake import _cell_scan

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (None, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 1.0]), (3, [-1.0, -1.0])],
        "cell int, centroid array<double>",
    )
    vecs = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    assigned = {r.vec_id: r.cell for r in assign_cells(vecs, cent).collect()}
    assert assigned == {1: 1, 2: 0, 3: 0}  # 1|2 tie -> 1; 0|NULL tie -> 0

    q = vecs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    probes = {}
    for r in nearest_cells(q, cent, nprobe=2).collect():
        probes.setdefault(r.query_id, set()).add(r.cell)
    # query 3 ties four cells at cdot 1: the NULL cell sorts after all
    assert probes == {1: {1, 2}, 2: {0, None}, 3: {0, 1}}

    path = str(tmp_path / "lists")
    lists = spark.createDataFrame(
        [(10 + c, [0.0, 0.0], c) for c in range(4)], "vec_id long, embedding array<float>, cell int"
    )
    lh.create(spark, path, lists, key="vec_id", partition_by=["cell"])
    qcells = nearest_cells(q.filter(F.col("query_id") == 2), cent, nprobe=2)
    assert [r.cell for r in _cell_scan(spark, path, qcells).collect()] == [0]
