"""Similarity-search declared queries (SURVEY.md §2.4 E2-E5 + IVF).

The reference's retrieval core — cosine top-k over an embedding collection
(src/vector_store.py:152-175) — plus the [north-star] generalizations:
k-NN join, pairwise near-dup by cosine, label centroids, and IVF cluster
assignment (the 100 TB ANN scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import o_cosine, o_dot, o_norm, vec_dot, vec_norm
from ..io import load_table
from ._discipline import o_r6_fp
from ..operators.edgecache import session_cached
from ..operators.similarity import (
    ivf_assign,
    knn_join,
    label_centroids,
    topk_by_cosine,
)
from .registry import declared_query

# Centroids and centroid dots on the INTEGER GRID (r12). The pre-r12
# float->DECIMAL(18,8) casts diverged between engines on floats whose
# 9th decimal digit straddles a tie (Spark converts through the
# double's shortest string representation, DuckDB through the full
# binary value), and one such 1e-8 skew pushed an exact 30x dot sum
# across a round-6 boundary (the sweep's ivf_assignment catch).
# round(x * 1e8) is one identical IEEE multiply + the shared half-away
# integer round; everything after it is exact BIGINT arithmetic on
# both engines, and the ranking windows order by the exact integer dot
# ("dote") so argmax ties are impossible by construction.
_O_CENTROIDS = """
        SELECT label, CAST(i AS INTEGER) AS pos,
               CAST(CASE WHEN s >= 0 THEN (2 * s + 100 * n) // (200 * n)
                    ELSE -((-2 * s + 100 * n) // (200 * n)) END AS DOUBLE)
                   / 1000000.0 AS centroid_val
        FROM (
            SELECT label, i,
                   SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                                  * 100000000) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
            GROUP BY label, i
        )
"""

_O_DOTS = """
        SELECT e.vec_id, c.label AS centroid_label,
               SUM(CAST(ROUND(CAST(e.embedding[c.pos] AS DOUBLE)
                              * 100000000) AS BIGINT)
                   * CAST(ROUND(c.centroid_val * 1000000) AS BIGINT))
                   AS dote
        FROM embeddings e CROSS JOIN cent c
        GROUP BY e.vec_id, c.label
"""


@declared_query(
    "cosine_topk_vec0",
    oracle=f"""
    WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           CAST(ROUND({o_cosine('e.embedding', 'q.query_vec')}, 6) AS DOUBLE)
               AS cosine_sim
    FROM embeddings e CROSS JOIN q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 5
    """,
)
def cosine_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3: exact cosine top-5 for one query vector (the reference's
    similarity_search with top_k=5, src/vector_store.py:152-175, exact
    instead of HNSW-approximate). orderBy+limit compiles to
    TakeOrderedAndProject — per-partition top-k, no global sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    return topk_by_cosine(emb, query, k=5).select(
        "vec_id", "label", "cosine_sim"
    )


@declared_query(
    "knn_join_mod100",
    oracle=f"""
    WITH qs AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id % 100 = 0
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               CAST(ROUND({o_cosine('e.embedding', 'q.query_vec')}, 6)
                    AS DOUBLE) AS cosine_sim
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine_sim, rn
    FROM (
        SELECT query_id, vec_id, cosine_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, vec_id) AS INTEGER) AS rn
        FROM scored
    ) t
    WHERE rn <= 3
    """,
)
def knn_join_mod100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 k-NN join: each query vector (vec_id % 100 = 0) -> its 3 nearest
    neighbors. Query side broadcasts; one shuffle on query_id for the
    ranking window."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return knn_join(emb, queries, k=3)


@declared_query(
    "vector_norms",
    oracle=f"""
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(ROUND({o_norm('embedding')}, 6) AS DOUBLE) AS l2_norm,
           CAST(ROUND({o_dot('embedding', 'embedding')}, 6) AS DOUBLE)
               AS self_dot
    FROM embeddings
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector kernel sanity surface: dimension, L2 norm, self dot product
    (zip_with/aggregate fold — SURVEY.md §2.8 array family)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dim"),
        F.round(vec_norm("embedding"), 6).alias("l2_norm"),
        F.round(vec_dot("embedding", "embedding"), 6).alias("self_dot"),
    )


@declared_query(
    "embedding_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           CAST(ROUND({o_cosine('a.embedding', 'b.embedding')}, 6) AS DOUBLE)
               AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({o_cosine('a.embedding', 'b.embedding')}, 6) >= 0.3
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection within label buckets:
    pairs with cosine >= 0.3 (fixture embeddings are random; real near-dup
    thresholds sit at ~0.95).

    The pairing is bucketed by ``label`` — the production shape, where a
    cheap partitioner (IVF cluster / LSH band / shard key) bounds the
    quadratic blow-up: one shuffle on the bucket key, then an
    Arrow-batched ``applyInPandas`` kernel scores each bucket's pairs as
    a vectorized left fold over dimensions — the same addition order as
    the oracle's list_sum, so values stay bit-identical (the wide
    unrolled Spark-expression alternative generates a >8 KB codegen
    method HotSpot refuses to JIT; see cosine_neardup_pairs_bucketed).
    The operator's ``max_bucket_rows`` guard (unset here: the declared
    query is exact) is the skew valve that routes oversized buckets to
    the LSH approximate path at scale."""
    from ..operators.similarity import cosine_neardup_pairs_bucketed

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs_bucketed(emb, threshold=0.3).select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        "label",
        "cosine_sim",
    )


@declared_query(
    "embedding_centroids",
    oracle=f"""
    {_O_CENTROIDS}
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, elementwise (label, pos, centroid_val) — exact
    DECIMAL partial sums keep the aggregate deterministic under any
    partitioning."""
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


@declared_query(
    "ivf_assignment",
    oracle=f"""
    WITH cent AS (
        {_O_CENTROIDS}
    ), dots AS (
        {_O_DOTS}
    )
    SELECT vec_id, assigned_label, dot
    FROM (
        SELECT vec_id, centroid_label AS assigned_label,
               {o_r6_fp("dote", 100_000_000_000_000)} AS dot,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dote DESC, centroid_label) AS rn
        FROM dots
    ) t
    WHERE rn = 1
    """,
)
def ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build step: assign every vector to its
    highest-dot-product label centroid (argmax via window, exact decimal
    dot products). At 100 TB this partitions the corpus so ANN queries
    probe one cluster instead of scanning everything."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_assign(emb, label_centroids(emb))


@declared_query(
    "ivf_topk_search_vec0",
    oracle=f"""
    WITH cent AS (
        {_O_CENTROIDS}
    ), dots AS (
        {_O_DOTS}
    ), assign AS (
        SELECT vec_id, centroid_label AS assigned_label
        FROM (
            SELECT vec_id, centroid_label,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dote DESC, centroid_label) AS rn
            FROM dots
        ) t WHERE rn = 1
    ), probe AS (
        SELECT centroid_label FROM dots
        WHERE vec_id = 0
        ORDER BY dote DESC, centroid_label
        LIMIT 2
    ), q AS (
        SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0
    ), cand AS (
        SELECT e.vec_id, e.label, e.embedding
        FROM embeddings e
        JOIN assign a ON e.vec_id = a.vec_id
        JOIN probe p ON a.assigned_label = p.centroid_label
    )
    SELECT c.vec_id, c.label,
           CAST(ROUND({o_cosine('c.embedding', 'q.query_vec')}, 6) AS DOUBLE)
               AS cosine_sim
    FROM cand c CROSS JOIN q
    ORDER BY cosine_sim DESC, c.vec_id
    LIMIT 5
    """,
)
def ivf_topk_search_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probed ANN search (the query path over the ivf_assignment
    index): rank label centroids against the query vector, probe the best
    2 clusters, exact cosine top-5 within the probed slice. This is the
    1/n_clusters-scan path that replaces brute force at 100 TB — recall
    is governed by nprobe (nprobe = n_clusters degenerates to exact), and
    every stage is broadcast/semi-join shaped (operators/similarity.py::
    ivf_topk_search). With the fixture's random embeddings the probed
    top-5 may differ from exact top-5 — the oracle replicates the probe,
    so the hash pins the IVF semantics, not brute-force equivalence."""
    from ..operators.similarity import ivf_topk_search

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    return ivf_topk_search(emb, query, k=5, nprobe=2).select(
        "vec_id", "label", "cosine_sim"
    )


@declared_query(
    "ivf_knn_join_mod100",
    oracle=f"""
    WITH cent AS (
        {_O_CENTROIDS}
    ), dots AS (
        {_O_DOTS}
    ), assign AS (
        SELECT vec_id, centroid_label AS assigned_label
        FROM (
            SELECT vec_id, centroid_label,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dote DESC, centroid_label) AS rn
            FROM dots
        ) t WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, centroid_label
        FROM (
            SELECT vec_id, centroid_label,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dote DESC, centroid_label) AS rn
            FROM dots WHERE vec_id % 100 = 0
        ) t WHERE rn <= 2
    ), qs AS (
        SELECT vec_id AS query_id, embedding AS query_vec
        FROM embeddings WHERE vec_id % 100 = 0
    ), cand AS (
        SELECT p.query_id, a.vec_id
        FROM probes p JOIN assign a ON a.assigned_label = p.centroid_label
    )
    SELECT query_id, vec_id, cosine_sim, rn
    FROM (
        SELECT c.query_id, c.vec_id,
               CAST(ROUND({o_cosine('e.embedding', 'q.query_vec')}, 6)
                    AS DOUBLE) AS cosine_sim,
               CAST(row_number() OVER (
                    PARTITION BY c.query_id
                    ORDER BY ROUND({o_cosine('e.embedding', 'q.query_vec')}, 6)
                             DESC, c.vec_id) AS INTEGER) AS rn
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN qs q ON q.query_id = c.query_id
    ) ranked
    WHERE rn <= 3
    """,
)
def ivf_knn_join_mod100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF ANN: every query vector (vec_id % 100 = 0) probes its
    own best-2 clusters and gets its cosine top-3 over only those
    clusters' members — the per-query-correct multi-query form
    (operators/similarity.py::ivf_knn_join). This is the production
    lookup shape at 100 TB: probes rank per query (window over the tiny
    query x centroid table), the candidate cut joins the stored
    assignment against the broadcast probe list, and the final ranking
    is one shuffle on query_id over 1/n_clusters of the corpus. Like
    ivf_topk_search_cached_vec0 it reads the registered index
    (:func:`_ivf_centroids`, :func:`_ivf_assignment`), so no
    centroid/assignment rebuild appears in its plan; the oracle
    recomputes the index from first principles, proving the registered
    relations reproduce the spec."""
    from ..operators.similarity import ivf_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_knn_join(
        emb,
        queries,
        k=3,
        nprobe=2,
        centroids=_ivf_centroids(spark, sf_dir),
        assignment=_ivf_assignment(spark, sf_dir),
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's (label, pos, centroid_val) centroids, registered
    once per (app, sf_dir) in the session memo tier."""
    return session_cached(
        spark,
        sf_dir,
        "ivf_centroids",
        lambda: label_centroids(load_table(spark, sf_dir, "embeddings")),
    )


def _ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's (vec_id, assigned_label) assignment against the
    registered centroids, registered once per (app, sf_dir)."""
    return session_cached(
        spark,
        sf_dir,
        "ivf_assignment",
        lambda: ivf_assign(
            load_table(spark, sf_dir, "embeddings"),
            _ivf_centroids(spark, sf_dir),
        ).select("vec_id", "assigned_label"),
    )


@declared_query(
    "ivf_topk_search_cached_vec0",
    oracle=f"""
    WITH cent AS (
        {_O_CENTROIDS}
    ), dots AS (
        {_O_DOTS}
    ), assign AS (
        SELECT vec_id, centroid_label AS assigned_label
        FROM (
            SELECT vec_id, centroid_label,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dote DESC, centroid_label) AS rn
            FROM dots
        ) t WHERE rn = 1
    ), probe AS (
        SELECT centroid_label FROM dots
        WHERE vec_id = 0
        ORDER BY dote DESC, centroid_label
        LIMIT 2
    ), q AS (
        SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0
    ), cand AS (
        SELECT e.vec_id, e.label, e.embedding
        FROM embeddings e
        JOIN assign a ON e.vec_id = a.vec_id
        JOIN probe p ON a.assigned_label = p.centroid_label
    )
    SELECT c.vec_id, c.label,
           CAST(ROUND({o_cosine('c.embedding', 'q.query_vec')}, 6) AS DOUBLE)
               AS cosine_sim
    FROM cand c CROSS JOIN q
    ORDER BY cosine_sim DESC, c.vec_id
    LIMIT 5
    """,
)
def ivf_topk_search_cached_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state ANN path: same IVF probed top-5 as
    ivf_topk_search_vec0, but over the registered index — centroids and
    assignment built once per session (:func:`_ivf_centroids`,
    :func:`_ivf_assignment`) and read as checkpointed relations, so the
    per-query plan is only probe -> semi-join -> top-k. At 100 TB this is
    the difference between a full-corpus aggregate per lookup and a
    broadcast of a tiny registered table; the index build amortizes
    across every later query of the session. The oracle recomputes the
    index from first principles via CTEs — the registered relations are
    a deterministic function of the corpus, so the hash-match proves the
    cached path reproduces the spec exactly (a plan pin in
    tests/test_plan_shapes.py proves no centroid rebuild appears in the
    query plan)."""
    from ..operators.similarity import ivf_topk_search

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    return ivf_topk_search(
        emb,
        query,
        k=5,
        nprobe=2,
        centroids=_ivf_centroids(spark, sf_dir),
        assignment=_ivf_assignment(spark, sf_dir),
    ).select("vec_id", "label", "cosine_sim")
