"""Lloyd's k-means over an embedding column on the 1e6 integer grid —
the iterative-algorithm pattern (X67) applied to vector geometry.

Inputs are quantized once (``quantize_grid``); after that every
distance and centroid update is exact BIGINT arithmetic, so a DuckDB
twin unrolling the same rounds reproduces the labels bit-exactly.

The per-iteration shape is the one that survives 100 TB:

  assignment:   vectors x ONE broadcast row of all centroid arrays;
                squared distances reduced IN-ROW with
                transform + aggregate(zip_with(...)) and argmin via
                array_min over (dist, label) structs — a map-side pass
                with no shuffle and no aggregate at all (same
                discipline as similarity.ivf_assign, which is the
                dot-product special case of this assignment step);
  update:       posexplode(vector) -> groupBy(label, pos) sum/count —
                ONE map-side-combinable shuffle of |clusters| x dim rows.

Iteration state (the centroid table) is k x dim — tiny — so each round
re-broadcasts it; the vectors are scanned once per iteration and never
shuffled. Deterministic init: the k lowest-id vectors seed the
centroids (k-means++ would add a driver-side sampling loop; determinism
matters more here than seeding quality, and the test pins the labels
against an independent numpy reference either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _centroid_arrays(centroids: DataFrame) -> DataFrame:
    """(label, pos, val) -> one row per label with the dense array."""
    return centroids.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))),
            lambda s: s["val"],
        ).alias("c_vec")
    )


def quantize_grid(vec_col: str = "embedding"):
    """Column expression: float vector -> 1e6-grid BIGINT vector.

    round(x * 1e6) is ONE identical IEEE multiply on identical input
    bits followed by a half-away-from-zero integer round both engines
    agree on (the _discipline.r6_exact argument) — after this, every
    distance and centroid update below is EXACT integer arithmetic,
    which is what makes the clustering cross-engine hash-matchable."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1000000, 0).cast("bigint"),
    )


def _assign_grid(qvectors: DataFrame, centroids: DataFrame, id_col: str) -> DataFrame:
    """Nearest centroid by EXACT squared grid distance; argmin over
    (dist, label) structs breaks ties to the smallest label — integer
    ties actually happen, so the explicit break carries the
    determinism. Shuffle-free: one broadcast row of all centroids,
    in-row zip_with reduction, no groupBy on the vector side."""
    cent_one_row = F.broadcast(
        _centroid_arrays(centroids).agg(
            F.array_sort(
                F.collect_list(F.struct("c_label", "c_vec"))
            ).alias("cents")
        )
    )
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("qv"),
                        c["c_vec"],
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, d: acc + d,
                ).alias("dist"),
                c["c_label"].alias("label"),
            ),
        )
    )
    return (
        qvectors.crossJoin(cent_one_row)
        .select(id_col, "qv", best.alias("best"))
        .select(
            id_col,
            "qv",
            F.col("best.label").alias("label"),
            F.col("best.dist").alias("sq_dist"),
        )
    )


def kmeans_lloyd_grid(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Run ``n_iter`` Lloyd iterations on the 1e6 integer grid;
    returns (assignment, centroids).

    assignment: (id, qv, label, sq_dist BIGINT); centroids: (label,
    pos, val BIGINT). Each round is a broadcast shuffle-free assign +
    one combinable k x dim update shuffle. Every number after the
    input quantization is an exact BIGINT: distances are integer sums
    of squares, and the centroid update rounds the mean back onto the
    grid with the half-away-from-zero integer division from
    _discipline.r6_fp — so a DuckDB twin unrolling the same rounds
    reproduces the labels BIT-exactly, boundary vectors included.
    Quantization error is <=5e-7 per component — far below the
    inter-centroid scale of any real embedding space. Seeds: the k
    lowest-id vectors.

    Empty-cluster semantics: a cluster that loses all members drops
    out of the centroid table (k shrinks) — the standard Lloyd
    variant."""
    # NOT materialized: re-running the vectorized parquet scan + grid
    # cast per consumer is cheaper than storing boxed array rows in the
    # block manager (measured r13: checkpointing qv cost 2.5x on the
    # sf0.1 bench — deserialized MEMORY_AND_DISK blocks box every array
    # element, while the columnar scan is nearly free)
    qv = vectors.select(id_col, quantize_grid(vec_col).alias("qv"))
    # deterministic seed: the k lowest-id vectors. Explode FIRST, then
    # label with dense_rank — a window in the same select as a
    # generator is evaluated over the already-exploded rows (one
    # "label" per (vector, pos) — 1-element centroids), and the global
    # window here runs on k x dim rows only.
    seed = (
        qv.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col), F.posexplode("qv").alias("pos", "val"))
    )
    init = seed.select(
        (F.dense_rank().over(Window.orderBy(id_col)) - 1)
        .cast("int")
        .alias("label"),
        "pos",
        "val",
    )
    centroids = init
    # grid mean: round_half_away_from_zero(s / n) stays in BIGINT space
    # the whole way (2*s bounded by 2 * 1e6-grid * members — ~2.4e11 at
    # 30x fixture volume, far under 2^63)
    grid_mean = F.expr(
        "CAST(CASE WHEN s >= 0 THEN (2 * s + n) DIV (2 * n)"
        " ELSE -((-2 * s + n) DIV (2 * n)) END AS BIGINT)"
    )
    for _ in range(n_iter):
        assigned = _assign_grid(qv, centroids, id_col)
        centroids = (
            assigned.select("label", F.posexplode("qv").alias("pos", "v"))
            .groupBy("label", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("label", "pos", grid_mean.alias("val"))
            # k x dim rows: truncate the per-round lineage so round N's
            # assign does not re-run rounds 1..N-1 (same discipline as
            # the graph loops in operators/graph.py)
            .localCheckpoint(eager=True)
        )
    final = _assign_grid(qv, centroids, id_col)
    return final, centroids
