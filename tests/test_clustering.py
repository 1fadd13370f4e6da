"""X67 Lloyd's k-means on the 1e6 integer grid vs an independent numpy
reference.

The operator's claim is algorithmic (exactly the labels of an integer
Lloyd from the same deterministic seed, no tolerance) plus physical
(the assignment step never shuffles the vectors).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_engineering_1_spark.io import load_table
from data_engineering_1_spark.operators.clustering import (
    _assign_grid,
    kmeans_lloyd_grid,
    quantize_grid,
)

K, ITERS = 8, 3


def test_kmeans_sse_monotone(spark, sf_dir):
    """Exact on the BIGINT sq_dist: the nearest grid point to a
    cluster's mean minimises that cluster's integer SSE, and
    reassignment to the nearest centroid cannot raise it, so the sum
    never rises between rounds."""
    emb = load_table(spark, sf_dir, "embeddings")
    sses = []
    for it in range(1, ITERS + 1):
        a, _ = kmeans_lloyd_grid(emb, k=K, n_iter=it)
        sses.append(a.agg(F.sum("sq_dist")).collect()[0][0])
    assert all(isinstance(x, int) for x in sses)
    for prev, cur in zip(sses, sses[1:]):
        assert cur <= prev


def test_kmeans_assignment_never_shuffles_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    _, cent = kmeans_lloyd_grid(emb, k=K, n_iter=1)
    # materialize the (tiny) centroid table, as the iteration loop
    # does, so the plan below is JUST the assignment step
    cent_local = spark.createDataFrame(cent.collect(), cent.schema)
    qv = emb.select("vec_id", quantize_grid().alias("qv"))
    a = _assign_grid(qv, cent_local, "vec_id")
    plan = a._jdf.queryExecution().executedPlan().toString()
    # centroids arrive as ONE broadcast row (no shuffle of the vector
    # side to meet them), the vectors are scanned exactly once, and —
    # the regression this test exists for — there is NO hash-partition
    # exchange and no sort-aggregate anywhere: the argmin is in-row
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 1
    # the ONLY exchanges allowed are the k x dim centroid-side preps;
    # the vector table itself must never be hash-partitioned
    assert "hashpartitioning(vec_id" not in plan
    assert "hashpartitioning(qv" not in plan
    assert "SortAggregate" not in plan


def _numpy_lloyd_grid(X, ids, k, iters):
    """Independent integer-grid Lloyd: quantize to the 1e6 grid, exact
    integer distances, half-away-from-zero integer mean."""
    order = np.argsort(ids)
    Q = np.round(X.astype(np.float64) * 1_000_000).astype(np.int64)
    cent = Q[order[:k]].copy()

    def _assign(c):
        d = ((Q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)  # np argmin breaks ties to lowest label

    lab = None
    for _ in range(iters):
        lab = _assign(cent)
        nxt = []
        for j in sorted(set(lab.tolist())):
            s = Q[lab == j].sum(axis=0)
            n = int((lab == j).sum())
            q = np.where(
                s >= 0, (2 * s + n) // (2 * n), -((-2 * s + n) // (2 * n))
            )
            nxt.append(q)
        cent = np.array(nxt, dtype=np.int64)
    return _assign(cent)


def test_kmeans_grid_matches_numpy_grid_reference(spark, sf_dir):
    """The hash-matchable grid variant (VERDICT r11 #3) must agree
    EXACTLY with an independent integer Lloyd — no tolerance, no
    boundary allowance: that exactness is the whole point."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)

    got, _ = kmeans_lloyd_grid(emb, k=K, n_iter=2)
    got_rows = {r["vec_id"]: r["label"] for r in got.collect()}
    want = _numpy_lloyd_grid(X, ids, K, 2)
    assert all(got_rows[int(v)] == want[i] for i, v in enumerate(ids))
