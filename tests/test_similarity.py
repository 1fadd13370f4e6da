"""Vector kernel and similarity operator tests (SURVEY.md §2.4)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from data_engineering_1_spark.functions.vector import (
    cosine_similarity,
    vec_dot,
    vec_norm,
)
from data_engineering_1_spark.operators.similarity import (
    knn_join,
    label_centroids,
    topk_by_cosine,
)

VECS = {
    1: [1.0, 0.0, 0.0, 0.0],
    2: [0.0, 1.0, 0.0, 0.0],   # orthogonal to 1
    3: [2.0, 0.0, 0.0, 0.0],   # parallel to 1
    4: [-1.0, 0.0, 0.0, 0.0],  # opposite of 1
    5: [1.0, 1.0, 0.0, 0.0],   # 45 degrees from 1
    6: [1.0, 0.0, 0.0, 0.0],   # duplicate of 1
}


@pytest.fixture(scope="module")
def vec_df(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": list(VECS),
            "embedding": [np.array(v, dtype=np.float32) for v in VECS.values()],
            "label": [i % 2 for i in VECS],
        }
    )
    return spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    )


def test_kernel_matches_numpy(vec_df):
    rows = vec_df.select(
        "vec_id",
        vec_dot("embedding", "embedding").alias("dot"),
        vec_norm("embedding").alias("norm"),
    ).collect()
    for r in rows:
        v = np.array(VECS[r.vec_id])
        assert r.dot == pytest.approx(float(v @ v), abs=1e-12)
        assert r.norm == pytest.approx(float(np.linalg.norm(v)), abs=1e-12)


def test_known_cosines(spark, vec_df):
    q = vec_df.filter(F.col("vec_id") == 1).select(
        F.col("embedding").alias("query_vec")
    )
    got = {
        r.vec_id: r.cosine_sim
        for r in vec_df.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "query_vec"), 6).alias(
                "cosine_sim"
            ),
        )
        .collect()
    }
    assert got[1] == 1.0
    assert got[2] == 0.0
    assert got[3] == 1.0
    assert got[4] == -1.0
    assert got[5] == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert got[6] == 1.0


def test_topk_deterministic_tiebreak(vec_df):
    """Reference semantics: top_k=5 cosine ranking (vector_store.py:152-175)
    with ties broken by id — ids 1,3,6 all have cosine 1."""
    q = vec_df.filter(F.col("vec_id") == 1).select(
        F.col("embedding").alias("query_vec")
    )
    rows = topk_by_cosine(vec_df, q, k=3).select("vec_id").collect()
    assert [r.vec_id for r in rows] == [1, 3, 6]


class TestTopkVectorQuery:
    """``topk_by_cosine`` with a driver-held vector (a plan literal) must
    return what it returns for the equivalent one-row DataFrame, row for
    row."""

    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        from data_engineering_1_spark.io import load_table

        return load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )

    @staticmethod
    def _both(vectors, qvec, k=5):
        qdf = vectors.sparkSession.createDataFrame(
            [(qvec,)], "query_vec array<float>"
        )
        return [
            [
                (r.vec_id, r.cosine_sim)
                for r in topk_by_cosine(vectors, q, k=k)
                .select("vec_id", "cosine_sim")
                .collect()
            ]
            for q in (qvec, qdf)
        ]

    def test_components_not_float32_representable(self, emb):
        from data_engineering_1_spark.functions.embedding import (
            hash_embed_texts,
        )

        dim = len(emb.first().embedding)
        for qvec in (
            [0.1 if i % 2 else 1 / 3 for i in range(dim)],
            [(i % 7 - 3) / 3 + 0.1 for i in range(dim)],
            hash_embed_texts(pd.Series(["distributed query engine"]))[0],
        ):
            assert np.any(np.float32(qvec) != np.float64(qvec))
            by_vec, by_df = self._both(emb, qvec)
            assert len(by_vec) == 5
            assert by_vec == by_df

    def test_tie_at_kth_similarity(self, emb):
        row = emb.filter(F.col("vec_id") == 3).first()
        qvec = [float(x) for x in row.embedding]
        kth = topk_by_cosine(emb, qvec, k=5).collect()[-1]
        tied = emb.unionByName(
            emb.filter(F.col("vec_id") == kth.vec_id).withColumn(
                "vec_id", F.lit(-1).cast("long")
            )
        )
        by_vec, by_df = self._both(tied, qvec, k=6)
        assert by_vec[4][1] == by_vec[5][1]  # the copy ties the 5th
        assert by_vec == by_df
        by5_vec, by5_df = self._both(tied, qvec, k=5)
        assert by5_vec == by5_df == by_vec[:5]

    def test_zero_vector_behaves_the_same(self, emb):
        """An empty or token-less question embeds to the all-zero vector,
        whose cosine divides by a zero norm. Whatever that does today
        (under the session's default ANSI mode: DIVIDE_BY_ZERO), it must
        do under both query forms."""
        from data_engineering_1_spark.functions.embedding import (
            hash_embed_texts,
        )

        def outcome(q):
            try:
                return topk_by_cosine(emb, q, k=5).collect()
            except Exception as exc:  # noqa: BLE001 — the outcome compared
                return type(exc).__name__, getattr(exc, "getCondition", str)()

        for text in ("", "?!"):
            zero = hash_embed_texts(pd.Series([text]))[0]
            assert not any(zero)
            qdf = emb.sparkSession.createDataFrame(
                [(zero,)], "query_vec array<float>"
            )
            assert outcome(zero) == outcome(qdf)


class TestStoredNorm:
    """``topk_by_cosine`` reads ``<vec_col>_norm`` when the vectors carry
    it; the result is the one it computes without it, and never carries
    the column."""

    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        from data_engineering_1_spark.io import load_table

        return load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )

    def test_literal_norm_is_the_engine_norm_bit_for_bit(self, spark):
        import struct

        from data_engineering_1_spark.functions.embedding import (
            hash_embed_texts,
        )
        from data_engineering_1_spark.functions.vector import (
            literal_norm,
            vec_literal,
        )

        rng = np.random.default_rng(7)
        vecs = [
            [0.1 if i % 2 else 1 / 3 for i in range(64)],
            list(rng.normal(size=64)),
            list(rng.normal(scale=1e-20, size=8)),
            hash_embed_texts(pd.Series(["distributed query engine"]))[0],
            [0.0] * 64,
            [-0.0, 3.0, -4.0],
        ]
        for v in vecs:
            got = spark.range(1).select(vec_norm(vec_literal(v))).first()[0]
            assert struct.pack("<d", got) == struct.pack("<d", literal_norm(v))

    def test_same_topk_with_and_without_stored_norm(self, emb):
        from data_engineering_1_spark.functions.embedding import (
            hash_embed_texts,
        )

        stored = emb.withColumn("embedding_norm", vec_norm("embedding"))
        qdf = emb.filter(F.col("vec_id") == 3).select(
            F.col("embedding").alias("query_vec")
        )
        for q in (
            hash_embed_texts(pd.Series(["distributed query engine"]))[0],
            qdf,
        ):
            with_norm = topk_by_cosine(stored, q, k=5)
            without = topk_by_cosine(emb, q, k=5)
            assert with_norm.columns == without.columns
            assert "embedding_norm" not in with_norm.columns
            assert with_norm.collect() == without.collect()


def test_knn_join_excludes_self(vec_df):
    queries = vec_df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(vec_df, queries, k=2).collect()
    assert all(r.vec_id != r.query_id for r in out)
    got = {(r.query_id, r.rn): r.vec_id for r in out}
    # query 1's nearest (excluding itself): 3 then 6 (both cos=1, id order)
    assert got[(1, 1)] == 3 and got[(1, 2)] == 6


def test_label_centroids_exact(vec_df):
    cent = {
        (r.label, r.pos): r.centroid_val for r in label_centroids(vec_df).collect()
    }
    # label 1 = vecs 1,3,5 -> mean dim1 = (1+2+1)/3
    assert cent[(1, 1)] == pytest.approx(4 / 3, abs=1e-6)
    # label 0 = vecs 2,4,6 -> mean dim1 = (0-1+1)/3 = 0
    assert cent[(0, 1)] == 0.0


class TestApproxLSH:
    def test_finds_planted_near_dups(self, spark):
        import random

        from data_engineering_1_spark.operators.similarity import (
            approx_neighbor_pairs_lsh,
        )

        rng = random.Random(7)
        base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(30)]
        rows = [(i, v) for i, v in enumerate(base)]
        # plant: 100+i is a tiny perturbation of i for i in 0..4
        for i in range(5):
            rows.append((100 + i, [x + 0.001 for x in base[i]]))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        pairs = approx_neighbor_pairs_lsh(df, max_distance=0.1).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        for i in range(5):
            assert (i, 100 + i) in got
        # no false accepts beyond the planted ones at this radius
        assert all(b - a == 100 for a, b in got)


class TestBucketedNearDup:
    def _df(self, spark, sizes):
        """Buckets of the given sizes; identical vectors within a bucket."""
        rows = []
        vid = 0
        for bucket, n in enumerate(sizes):
            for _ in range(n):
                rows.append((vid, bucket, [1.0, float(bucket), 0.5, 0.0]))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<float>"
        )

    def test_exact_pairs_within_buckets(self, spark):
        from data_engineering_1_spark.operators.similarity import (
            cosine_neardup_pairs_bucketed,
        )

        df = self._df(spark, [3, 2])
        got = cosine_neardup_pairs_bucketed(df, threshold=0.9).collect()
        # identical vectors: all within-bucket pairs, cosine 1.0
        pairs = {(r.id_a, r.id_b) for r in got}
        assert pairs == {(0, 1), (0, 2), (1, 2), (3, 4)}
        assert all(r.cosine_sim == pytest.approx(1.0) for r in got)

    def test_max_bucket_rows_excludes_hot_bucket(self, spark):
        from data_engineering_1_spark.operators.similarity import (
            cosine_neardup_pairs_bucketed,
        )

        df = self._df(spark, [5, 2])
        got = cosine_neardup_pairs_bucketed(
            df, threshold=0.9, max_bucket_rows=3
        ).collect()
        # bucket 0 (5 rows) is over the cap -> excluded from exact pairing;
        # bucket 1 (2 rows) survives
        assert {(r.id_a, r.id_b) for r in got} == {(5, 6)}


class TestIvfTopkSearch:
    def test_full_probe_equals_exact(self, spark, sf_dir):
        """nprobe = n_clusters must degenerate to exact brute-force top-k
        (the IVF recall guarantee at its boundary)."""
        from pyspark.sql import functions as F

        from data_engineering_1_spark.io import load_table
        from data_engineering_1_spark.operators.similarity import (
            ivf_topk_search,
            topk_by_cosine,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        n_labels = emb.select("label").distinct().count()
        query = emb.filter(F.col("vec_id") == 3).select(
            F.col("embedding").alias("query_vec")
        )
        got = [
            (r.vec_id, r.cosine_sim)
            for r in ivf_topk_search(
                emb, query, k=5, nprobe=n_labels
            ).select("vec_id", "cosine_sim").collect()
        ]
        exp = [
            (r.vec_id, r.cosine_sim)
            for r in topk_by_cosine(emb, query, k=5)
            .select("vec_id", "cosine_sim")
            .collect()
        ]
        assert got == exp

    def test_ivf_knn_join_matches_per_query_search(self, spark, sf_dir):
        """The multi-query form must return, per query, exactly what the
        single-query probed search returns for that query alone — the
        regression this pins: a shared probe ranking that mixes queries
        would return nprobe probes TOTAL instead of nprobe per query."""
        from pyspark.sql import functions as F

        from data_engineering_1_spark.io import load_table
        from data_engineering_1_spark.operators.similarity import (
            ivf_assign,
            ivf_knn_join,
            ivf_topk_search,
            label_centroids,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = label_centroids(emb)
        assign = ivf_assign(emb, cents)
        qids = [0, 7]
        queries = emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        got = ivf_knn_join(
            emb, queries, k=5, nprobe=2, centroids=cents, assignment=assign
        ).toPandas()
        for qid in qids:
            single = ivf_topk_search(
                emb,
                emb.filter(F.col("vec_id") == qid).select(
                    F.col("embedding").alias("query_vec")
                ),
                k=5,
                nprobe=2,
                centroids=cents,
                assignment=assign,
            ).select("vec_id", "cosine_sim").collect()
            exp = [(r.vec_id, r.cosine_sim) for r in single]
            mine = got[got["query_id"] == qid].sort_values("rn")
            assert (
                list(zip(mine["vec_id"], mine["cosine_sim"])) == exp
            ), f"query {qid} diverged from its single-query search"

    def test_cached_ivf_queries_write_nothing_to_repo(
        self, spark, sf_dir, tmp_path
    ):
        """The cached IVF queries keep their index in the session
        registry: running them on a fresh fixture leaves no index tree
        for it in the repository."""
        import os
        import shutil
        import uuid

        from data_engineering_1_spark.operators.edgecache import clear_cache
        from data_engineering_1_spark.plans import registry

        # a fresh tag, so a tree left by an older checkout cannot match
        fixture = tmp_path / f"ivf{uuid.uuid4().hex}"
        fixture.mkdir()
        shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), fixture)
        q = registry.get_queries()
        try:
            for name in ("ivf_topk_search_cached_vec0", "ivf_knn_join_mod100"):
                assert q[name](spark, str(fixture)).collect()
        finally:
            clear_cache()
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        tree = os.path.join(repo, "spark-warehouse", "ivf_index")
        assert not os.path.exists(os.path.join(tree, fixture.name))

    def test_probed_search_candidates_only_from_probed_clusters(
        self, spark, sf_dir
    ):
        """With nprobe=1 every result must belong to the query's own
        cluster (the probe ranks the query's assigned centroid first)."""
        from pyspark.sql import functions as F

        from data_engineering_1_spark.io import load_table
        from data_engineering_1_spark.operators.similarity import (
            ivf_assign,
            ivf_topk_search,
            label_centroids,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = label_centroids(emb)
        assign = ivf_assign(emb, cents)
        query = emb.filter(F.col("vec_id") == 3).select(
            F.col("embedding").alias("query_vec")
        )
        own_label = (
            assign.filter(F.col("vec_id") == 3).collect()[0].assigned_label
        )
        got = ivf_topk_search(
            emb, query, k=5, nprobe=1, centroids=cents, assignment=assign
        )
        member_labels = {
            r.assigned_label
            for r in got.join(assign, "vec_id").select("assigned_label").collect()
        }
        assert member_labels == {own_label}
