"""Similarity-search operators: exact top-k, k-NN join, centroids, IVF.

Reproduces (and generalizes) the reference's retrieval surface:
  - E2 cosine top-k search (src/vector_store.py:152-175: Chroma
    ``collection.query(query_texts=[q], n_results=top_k)``, cosine space,
    default top_k=5) — here exact and distributed: the query vector is
    one ``array<float>`` literal on the vectors side (a one-row
    DataFrame, broadcast, when the query comes from a table), scoring is
    a narrow map, and ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject (per-partition top-k + driver merge, no global
    sort shuffle);
  - E5 k-NN join (many queries at once): broadcast the query side, score,
    per-query window top-k — one shuffle on query_id;
  - label centroids + IVF assignment: the scale path for ANN — at 100 TB
    you search only the probed cluster(s), turning a full scan into a
    1/n_clusters scan. Centroid aggregation uses exact DECIMAL sums so the
    plan is deterministic under any partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    literal_norm,
    vec_dot,
    vec_literal,
    vec_norm,
)

DEFAULT_TOP_K = 5  # reference default: src/vector_store.py:152, main.py:99


def with_norm(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Precompute the L2 norm once per vector *before* any pairwise join.

    cosine(a,b) = dot(a,b) / (|a| * |b|): |a| and |b| are per-vector, so
    computing them inside an n^2 pair join wastes 2/3 of the kernel work.
    The precomputed value is the same double the per-pair expression would
    produce (pure function of the array), so oracle hashes are unaffected.
    """
    return df.withColumn(out_col, vec_norm(vec_col))


def paired_cosine(vec_a: str, vec_b: str, norm_a: str, norm_b: str) -> F.Column:
    """dot/(norm_a*norm_b) with precomputed norms — bit-identical to
    cosine_similarity(vec_a, vec_b)."""
    return vec_dot(vec_a, vec_b) / (F.col(norm_a) * F.col(norm_b))


def topk_by_cosine(
    vectors: DataFrame,
    query: DataFrame | Sequence[float],
    k: int = DEFAULT_TOP_K,
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine search for one query: a driver-held vector or,
    for queries derived from a table, a 1-row DataFrame (same values).

    A vector is one ``array<float>`` literal and its norm a double
    literal folded on the driver: the scoring is one select over the
    vectors, with no join and no broadcast, one job over their
    partitions. A DataFrame row is broadcast and cross-joined without
    shuffling the vectors side. When the vectors carry ``<vec_col>_norm``
    (the warehouse stores it) that column is the vector-side norm; it is
    the same ``vec_norm`` double, so results are unchanged, and it is not
    returned. orderBy+limit avoids a global sort; deterministic tie-break
    on id_col.
    """
    norm_col = f"{vec_col}_norm"
    if norm_col in vectors.columns:
        norm_v = F.col(norm_col)
    else:
        norm_v = vec_norm(vec_col)
    keep = [c for c in vectors.columns if c != norm_col]
    if isinstance(query, DataFrame):
        side = vectors.crossJoin(
            F.broadcast(with_norm(query, query_vec_col, "__norm_q"))
        )
        keep += [c for c in query.columns if c != query_vec_col]
        qvec, norm_q = F.col(query_vec_col), F.col("__norm_q")
    else:
        side = vectors
        qvec, norm_q = vec_literal(query), F.lit(literal_norm(query))
    dot = vec_dot(vec_col, qvec)
    cosine = F.round(dot / (norm_v * norm_q), 6).alias("cosine_sim")
    return (
        side.select(*keep, cosine)
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
) -> DataFrame:
    """E5: every query row -> its k nearest neighbors (excluding itself
    when ids collide). Queries broadcast; ranking is one shuffle on
    query_id.

    The vector side is spread on its id before the broadcast join: a
    small-file fixture scans as ~1 partition, which would run every
    |vectors| x |queries| cosine on ONE task (34x wall at the 10x
    probe). The exchange is |vectors|-sized — strictly dominated by
    the |pairs|-sized window shuffle below — and the broadcast side
    joins identically under any layout."""
    scored = (
        with_norm(vectors, vec_col, "__norm_v")
        .repartition(F.col(id_col))
        .crossJoin(
            F.broadcast(with_norm(queries, query_vec_col, "__norm_q"))
        )
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine_sim",
            F.round(
                paired_cosine(vec_col, query_vec_col, "__norm_v", "__norm_q"),
                6,
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rn")
    )


def cosine_neardup_pairs_bucketed(
    vectors: DataFrame,
    threshold: float,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs WITHIN buckets: all (a, b) with
    ``a.bucket == b.bucket``, ``a.id < b.id`` and cosine >= threshold.

    The bucket key (IVF cluster / LSH band / shard key) bounds the
    quadratic pair blow-up: rows shuffle ONCE on the bucket and all
    pairing happens within a bucket's group. The kernel reads the
    vector width from the data.

    ``max_bucket_rows`` is the skew guard: within-bucket pairing is
    O(b^2), so one hot bucket can dominate the whole job. When set,
    buckets larger than the cap are EXCLUDED from the exact pairing
    (the bucket-size check is one aggregate broadcast back onto the
    rows); route those buckets through ``approx_neighbor_pairs_lsh``,
    which scales by hash-bucket occupancy instead. Callers that need
    exact completeness leave it None.

    The per-pair kernel is an Arrow-batched ``applyInPandas`` grouped map
    (one group per bucket): inside each bucket the n x n dot matrix is a
    64-step vectorized LEFT FOLD over dimensions (``acc += outer(A[:,k],
    A[:,k])``, k ascending) — each step multiplies then adds with one
    IEEE rounding apiece, so every pair's value is bit-identical to the
    engine's ``aggregate``-fold kernel and to DuckDB's ``list_sum`` over
    ``list_transform`` (verified: identical rows at sf0.01). This is the
    documented "UDFs are the slow path, EXCEPT vectorized numeric
    kernels" carve-out: a dim-wide unrolled Spark expression generates a
    ~40 KB codegen method that HotSpot won't JIT (runs interpreted,
    measured 2.7 s warm at sf0.1), while the numpy fold runs the same
    arithmetic SIMD-vectorized (0.46 s warm), and only (id, bucket,
    vector) rows cross the Python boundary — the quadratic pair fan-out
    happens inside the worker and only scored pairs come back.

    Rounding and thresholding stay JVM-side (Spark ``round`` half-up ==
    DuckDB ``round`` for positives) so oracle parity is preserved.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    base = vectors.select(
        F.col(id_col).alias("__id"),
        F.col(bucket_col).alias("__bucket"),
        F.col(vec_col).alias("__vec"),
    )
    if max_bucket_rows is not None:
        sizes = base.groupBy("__bucket").agg(
            F.count(F.lit(1)).alias("__bn")
        ).filter(F.col("__bn") <= max_bucket_rows)
        base = base.join(F.broadcast(sizes.select("__bucket")), "__bucket")

    id_type = vectors.schema[id_col].dataType
    bucket_type = vectors.schema[bucket_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("__bucket", bucket_type),
            StructField("__cos", DoubleType()),
        ]
    )

    def pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        A = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        n, d = A.shape
        acc = np.zeros((n, n))
        nrm = np.zeros(n)
        for k in range(d):  # ascending k == the aggregate fold's order
            c = A[:, k]
            acc += np.multiply.outer(c, c)
            nrm += c * c
        nrm = np.sqrt(nrm)
        cos = acc / np.multiply.outer(nrm, nrm)
        iu, ju = np.triu_indices(n, k=1)
        ia, ib = ids[iu], ids[ju]
        swap = ia > ib
        return pd.DataFrame(
            {
                "id_a": np.where(swap, ib, ia),
                "id_b": np.where(swap, ia, ib),
                "__bucket": pdf["__bucket"].iloc[np.zeros(len(iu), dtype=int)].to_numpy(),
                "__cos": cos[iu, ju],
            }
        )

    scored = base.groupBy("__bucket").applyInPandas(pair_kernel, out_schema)
    cos6 = F.round(F.col("__cos"), 6)
    return scored.filter(cos6 >= threshold).select(
        "id_a",
        "id_b",
        F.col("__bucket").alias(bucket_col),
        cos6.alias("cosine_sim"),
    )


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label elementwise mean as (label, pos, centroid_val) rows.

    posexplode fans out to one row per element; the groupBy(label, pos)
    aggregate sums 1e8-GRID BIGINT quantized elements (exact and
    order-free) and the round-6 mean is one half-away-from-zero integer
    division — fully cross-engine-exact.

    Why the grid and not a float->DECIMAL(18,8) cast (the pre-r12
    shape): the engines CONVERT floats to decimals differently — Spark
    goes through the double's shortest string representation, DuckDB
    through the full binary value — so a float whose 9th decimal digit
    straddles a x.xxxxxxxx5 tie casts to decimals 1e-8 apart, and one
    such component shifted an exact 30x dot sum across a round-6
    boundary (the r12 sweep's ivf_assignment catch). round(x * 1e8) is
    ONE identical IEEE multiply + the shared half-away integer round:
    no string/binary ambiguity exists after it."""
    exploded = vectors.select(
        F.col(label_col),
        F.posexplode(vec_col).alias("pos0", "val"),
    ).select(
        label_col,
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.round(F.col("val").cast("double") * 100000000, 0)
        .cast("bigint")
        .alias("val_q"),
    )
    # centroid6 = round_half_away(s / (1e8 n) * 1e6) = halfaway(s, 100n)
    mean6 = F.expr(
        "CAST(CASE WHEN s >= 0 THEN (2 * s + 100 * n) DIV (200 * n)"
        " ELSE -((-2 * s + 100 * n) DIV (200 * n)) END AS DOUBLE)"
        " / 1000000.0"
    )
    return (
        exploded.groupBy(label_col, "pos")
        .agg(
            F.sum("val_q").alias("s"),
            F.count("val_q").alias("n"),
        )
        .select(label_col, "pos", mean6.alias("centroid_val"))
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_best: int = 1,
) -> DataFrame:
    """IVF cluster assignment: each vector -> highest-dot-product centroid.

    The dot products are exact decimal sums (order-independent, same
    values the oracle's explode+join formulation produces) but computed
    IN-ROW: centroids pivot to per-label arrays, broadcast, and each
    (vector, centroid) pair reduces with aggregate(zip_with(...)) inside
    the row. vs the explode+equi-join-on-pos shape this removes the
    O(vectors x dim x labels) shuffle entirely — measured 4x faster at
    sf0.1 — and is the plan that survives 100 TB (work is a map-side
    cross with a tiny broadcast; the only shuffle left is the argmax).
    Centroids arrive as (label, pos, centroid_val) from label_centroids.
    """
    # vectors quantize to the 1e8 grid, centroids (already on the 1e6
    # grid from label_centroids' round-6 mean, or quantized here for
    # any other float centroids — the same round-6 the old
    # decimal(12,6) cast applied) to the 1e6 grid: after that
    # every dot is an exact BIGINT and the argmax is tie-free across
    # engines. The r12 30x sweep caught the previous float->decimal
    # cast diverging 1e-8 between engines (string-repr vs binary
    # conversion) and tie-splitting the round-6 output — see
    # label_centroids' docstring.
    cent_arrays = centroids.groupBy(
        F.col(label_col).alias("centroid_label")
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("centroid_val")))
            ),
            lambda s: F.round(
                s["centroid_val"].cast("double") * 1000000, 0
            ).cast("bigint"),
        ).alias("__cent")
    )
    dots = vectors.select(id_col, vec_col).crossJoin(
        F.broadcast(cent_arrays)
    ).select(
        id_col,
        "centroid_label",
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.col("__cent"),
                lambda x, y: F.round(x.cast("double") * 100000000, 0)
                .cast("bigint")
                * y,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("dote"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("dote"), F.asc("centroid_label")
    )
    ranked = dots.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= n_best
    )
    # dote is the dot scaled by 1e14; round-6 dollars via the r6_fp
    # half-away-from-zero integer division (never leaves exact space)
    from ..plans._discipline import r6_fp

    cols = [
        F.col(id_col),
        F.col("centroid_label").alias("assigned_label"),
        r6_fp("dote", 100_000_000_000_000).alias("dot"),
    ]
    if n_best > 1:
        # multi-probe callers (ivf_topk_search) need the probe order
        cols.append(F.col("rn").cast("int").alias("probe_rank"))
    return ranked.select(*cols)


def ivf_topk_search(
    vectors: DataFrame,
    query: DataFrame,
    k: int = DEFAULT_TOP_K,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    assignment: DataFrame | None = None,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF probed search — the ANN *query* path over the index that
    ivf_assign builds: rank centroids against the query, probe the best
    ``nprobe`` clusters, and run exact cosine top-k over only those
    clusters' members (a 1/n_clusters-sized slice of the corpus per probe).

    Scale shape: centroids and the probe list are tiny broadcasts; the
    candidate cut is two semi joins (assignment x probe-labels, then
    vectors x candidate-ids — at scale the assignment is a stored index
    column on the vector table and the first semi join becomes a partition
    prune); the final top-k is TakeOrderedAndProject over the probed
    slice. Recall is governed by nprobe exactly as in FAISS-style IVF;
    nprobe = n_clusters degenerates to exact search.

    The final top-k is GLOBAL (one result list), so the contract is a
    single-row ``query`` — many queries at once would mix candidate
    lists; use :func:`ivf_knn_join` for per-query top-k. The probe
    ranking itself is per-query-correct regardless (each query row gets
    its own id before centroid ranking), so a multi-row input degrades
    to "union of every query's probes", never to cross-query-mixed
    nprobe-total probes.
    """
    cents = centroids if centroids is not None else label_centroids(
        vectors, label_col=label_col, vec_col=vec_col
    )
    assign = (
        assignment
        if assignment is not None
        else ivf_assign(vectors, cents, label_col=label_col,
                        vec_col=vec_col, id_col=id_col)
    )
    probe = ivf_assign(
        query.select(
            F.monotonically_increasing_id().alias(id_col),
            F.col(query_vec_col).alias(vec_col),
        ),
        cents,
        label_col=label_col,
        vec_col=vec_col,
        id_col=id_col,
        n_best=nprobe,
    ).select("assigned_label").distinct()
    cand_ids = assign.join(
        F.broadcast(probe), "assigned_label", "left_semi"
    ).select(id_col)
    cand = vectors.join(cand_ids, id_col, "left_semi")
    return topk_by_cosine(
        cand, query, k=k, vec_col=vec_col,
        query_vec_col=query_vec_col, id_col=id_col,
    )


def ivf_knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_TOP_K,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    assignment: DataFrame | None = None,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Multi-query IVF search: per query row, probe its own best
    ``nprobe`` clusters and return ITS cosine top-k — the batched ANN
    lookup path (contrast :func:`ivf_topk_search`, whose global top-k is
    a single-query contract).

    Scale shape: probes are per-query (window over the tiny
    query x centroid dot table), the candidate cut joins the stored
    assignment against the broadcast probe list — each query scans only
    its probed clusters' members — and the per-query ranking is one
    shuffle on query_id, exactly knn_join's shape but over 1/n_clusters
    of the corpus per query.
    """
    cents = centroids if centroids is not None else label_centroids(
        vectors, label_col=label_col, vec_col=vec_col
    )
    assign = (
        assignment
        if assignment is not None
        else ivf_assign(vectors, cents, label_col=label_col,
                        vec_col=vec_col, id_col=id_col)
    )
    probe = ivf_assign(
        queries.select(
            F.col(query_id_col).alias(id_col),
            F.col(query_vec_col).alias(vec_col),
        ),
        cents,
        label_col=label_col,
        vec_col=vec_col,
        id_col=id_col,
        n_best=nprobe,
    ).select(F.col(id_col).alias(query_id_col), "assigned_label")
    # per-query candidate ids: every vector assigned to one of THIS
    # query's probed clusters
    cand_ids = assign.select(
        id_col, "assigned_label"
    ).join(F.broadcast(probe), "assigned_label").select(query_id_col, id_col)
    cand = with_norm(vectors, vec_col, "__norm_v").join(cand_ids, id_col)
    scored = cand.join(
        F.broadcast(
            with_norm(queries, query_vec_col, "__norm_q")
        ),
        query_id_col,
    ).withColumn(
        "cosine_sim",
        F.round(
            paired_cosine(vec_col, query_vec_col, "__norm_v", "__norm_q"),
            6,
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rn")
    )


def approx_neighbor_pairs_lsh(
    vectors: DataFrame,
    max_distance: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The approximate-at-scale path for E2/E7 (SURVEY.md §2.4, §4): MLlib
    BucketedRandomProjectionLSH self-join — pairs within ``max_distance``
    (euclidean; for unit-normalized vectors d^2 = 2 - 2*cos, so a cosine
    threshold t maps to max_distance sqrt(2-2t)).

    This replaces the exact O(n^2) pair scan with hash-bucket joins whose
    cost follows bucket occupancy — the variant to reach for when the
    corpus no longer fits an exact crossJoin (the exact operators stay the
    default at oracle-checked scales; approximate results are inherently
    engine-specific, hence rows-only). Library call, not a planner rule
    (SURVEY.md §4: no custom Catalyst work needed)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "__features"
        ),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="__features",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, max_distance, distCol="distance"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("distance", 6).alias("distance"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
