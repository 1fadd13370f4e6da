"""Embedding UDF (E1) + QA composition (Q1-Q6) + full pipeline golden test.

The LLM client is always injected (a recording stub) — the network call is
never exercised, matching SURVEY.md §2.11's exclusion of Q3 from the
correctness surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_engineering_1_spark.functions.embedding import (
    hash_embed_texts,
    hash_embedder,
)
from data_engineering_1_spark.operators import qa
from data_engineering_1_spark.sources import pdf as P


class TestHashEmbedder:
    def test_deterministic_and_normalized(self):
        a = hash_embed_texts(pd.Series(["hello world", "hello world", ""]))
        assert a[0] == a[1]
        assert abs(np.linalg.norm(a[0]) - 1.0) < 1e-9
        assert np.linalg.norm(a[2]) == 0.0  # empty text -> zero vector
        assert len(a[0]) == 64

    def test_case_insensitive_tokens(self):
        a = hash_embed_texts(pd.Series(["Hello World", "hello world"]))
        assert a[0] == a[1]

    def test_distinct_texts_differ(self):
        a = hash_embed_texts(pd.Series(["alpha beta gamma", "delta epsilon zeta"]))
        assert a[0] != a[1]

    def test_kernel_matches_the_numpy_scalar_loop(self):
        """The masked-int FNV-1a kernel returns exactly what the earlier
        per-byte ``np.uint64`` loop (frozen here) returned."""
        from data_engineering_1_spark.functions.embedding import _TOKEN_RE

        def frozen(texts, dim=64, seed=42):
            out = []
            for text in texts:
                vec = np.zeros(dim, dtype=np.float64)
                for tok in _TOKEN_RE.findall((text or "").lower()):
                    h = np.uint64(14695981039346656037 + seed)
                    for b in tok.encode("utf-8"):
                        h = np.uint64(
                            (int(h) ^ b) * 1099511628211 & 0xFFFFFFFFFFFFFFFF
                        )
                    idx = int(h % np.uint64(dim))
                    sign = 1.0 if (int(h) >> 32) & 1 else -1.0
                    vec[idx] += sign
                n = float(np.linalg.norm(vec))
                if n > 0:
                    vec /= n
                out.append([float(x) for x in vec])
            return out

        texts = pd.Series([
            "Apache Spark is a distributed engine, v3.5 — 100% ok",
            "naïve café ÆØÅ straße ΣΊΣΥΦΟΣ",
            "数据工程课程的助手 根据提供的参考文档回答用户问题",
            "日本語のテキスト 한국어 텍스트",
            "",
            None,
            "?!",
        ])
        for dim, seed in ((64, 42), (7, 0), (384, 1234)):
            assert hash_embed_texts(texts, dim=dim, seed=seed) == frozen(
                texts, dim=dim, seed=seed
            )

    def test_udf_matches_local(self, spark):
        df = spark.createDataFrame(
            [("spark engine",), ("vector search",)], "text string"
        )
        got = [r.e for r in df.select(hash_embedder()("text").alias("e")).collect()]
        exp = hash_embed_texts(pd.Series(["spark engine", "vector search"]))
        for g, e in zip(got, exp):
            assert np.allclose(g, e, atol=1e-6)


class TestContextFormatting:
    DOCS = [
        {"text": "第一段内容", "source": "课件一.pdf", "page_number": 3,
         "paragraph_number": 2},
        {"text": "second passage", "source": "notes.pdf", "page_number": 1,
         "paragraph_number": 7},
    ]

    def test_golden_citation_string(self):
        ctx = qa.format_context_rows(self.DOCS)
        assert ctx == (
            "[来源1: 文档《课件一.pdf》第3页第2段]\n第一段内容\n"
            "\n"
            "[来源2: 文档《notes.pdf》第1页第7段]\nsecond passage\n"
        )

    def test_spark_twin_matches_driver_side(self, spark):
        rows = [
            (i + 1, d["source"], d["page_number"], d["paragraph_number"], d["text"])
            for i, d in enumerate(self.DOCS)
        ]
        df = spark.createDataFrame(
            rows,
            "rank int, source string, page_number int, paragraph_number int, text string",
        )
        got = qa.format_context_df(df).collect()[0]["context"]
        assert got == qa.format_context_rows(self.DOCS)

    def test_prompt_assembly(self):
        p = qa.build_user_prompt("CTX", "什么是数据工程?")
        assert p.startswith("参考文档：\n        CTX\n")
        assert "用户问题：什么是数据工程?" in p
        assert p.endswith("注明信息来源：")


class TestAnswerFlow:
    def test_no_client_returns_no_key_answer(self):
        assert qa.generate_answer("q", [], None) == qa.NO_KEY_ANSWER

    def test_exception_captured_as_value(self):
        def boom(sys_p, user_p):
            raise RuntimeError("connection refused")

        out = qa.generate_answer("q", [], boom)
        assert out == "生成答案时出错: connection refused"

    def test_client_receives_templates(self):
        seen = {}

        def record(sys_p, user_p):
            seen["sys"], seen["user"] = sys_p, user_p
            return "ANSWER"

        docs = TestContextFormatting.DOCS
        assert qa.generate_answer("my question", docs, record) == "ANSWER"
        assert seen["sys"] == qa.SYSTEM_PROMPT
        assert qa.format_context_rows(docs).splitlines()[0] in seen["user"]
        assert "用户问题：my question" in seen["user"]


class TestFullPipeline:
    @pytest.fixture(scope="class")
    def chunk_table(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("qa_pdfs")
        (d / "spark.pdf").write_text(
            "Apache Spark is a distributed engine for large scale data.\n\n"
            "Cats purr when they are content and relaxed at home daily.",
            encoding="utf-8",
        )
        chunks = P.extract_chunks(spark, str(d)).withColumn(
            "doc_id", F.monotonically_increasing_id()
        )
        return chunks.withColumn("embedding", hash_embedder()("text")).cache()

    def test_ivf_method_with_full_probe_equals_exact(self, spark, sf_dir):
        """VERDICT r8 #8: the flag-gated IVF scale path, pinned equal to
        exact top-k on the fixture when every cluster is probed
        (nprobe >= n_clusters degenerates to exact search)."""
        from data_engineering_1_spark.io import load_table

        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("vec_id")).alias("text"),
            "embedding",
        )
        q = "distributed query engine"
        kw = dict(client=lambda s, u: "a", top_k=5)
        exact = qa.answer_with_sources(spark, q, emb, **kw)
        full_probe = qa.answer_with_sources(
            spark, q, emb, method="ivf", n_clusters=4, nprobe=4, **kw
        )
        want = [(s["text"], s["similarity"]) for s in exact["sources"]]
        got = [(s["text"], s["similarity"]) for s in full_probe["sources"]]
        assert got == want
        # no synthesized bucket label leaks into the source metadata
        assert all("label" not in s["metadata"] for s in full_probe["sources"])
        # probed (partial) search returns top_k rows whose similarities
        # never exceed the exact optimum, in descending order
        probed = qa.answer_with_sources(
            spark, q, emb, method="ivf", n_clusters=8, nprobe=2, **kw
        )
        sims = [s["similarity"] for s in probed["sources"]]
        assert len(sims) == 5 and sims == sorted(sims, reverse=True)
        assert sims[0] <= want[0][1]
        with pytest.raises(ValueError):
            qa.answer_with_sources(spark, q, emb, method="annoy", **kw)

    def test_exact_question_is_one_job(self, spark, sf_dir):
        """An exact question submits one Spark job: the query vector is a
        plan literal, so no Python-built relation is scanned and nothing
        is broadcast."""
        from data_engineering_1_spark.io import load_table

        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("vec_id")).alias("text"),
            "embedding",
        )
        sc = spark.sparkContext
        store = spark._jsparkSession.sharedState().statusStore()

        def executions():
            lst = store.executionsList()
            return [lst.apply(i) for i in range(lst.size())]

        before = max((e.executionId() for e in executions()), default=-1)
        group = "test-qa-exact-one-job"
        sc.setJobGroup(group, "one exact question")
        try:
            qa.answer_with_sources(spark, "distributed query engine", emb)
        finally:
            sc.setJobGroup("", "")
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        plans = [
            e.physicalPlanDescription()
            for e in executions()
            if e.executionId() > before
        ]
        assert plans
        for plan in plans:
            assert "ExistingRDD" not in plan
            assert "BroadcastExchange" not in plan

    def test_answer_with_sources(self, spark, chunk_table):
        resp = qa.answer_with_sources(
            spark,
            "distributed engine for data",
            chunk_table,
            client=lambda s, u: "the answer",
            top_k=1,
        )
        assert resp["answer"] == "the answer"
        assert len(resp["sources"]) == 1
        top = resp["sources"][0]
        assert "Spark" in top["text"]  # retrieval found the on-topic chunk
        assert 0.0 < top["similarity"] <= 1.0
        assert top["metadata"]["source"] == "spark.pdf"
        assert top["metadata"]["page_number"] == 1


def test_demo_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The composed training-data pipeline demo must run end-to-end on
    the fixture and its stage counts must be internally consistent
    (monotone filters, non-empty output, clustered files on disk)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.demo_pipeline import run

    report = run(spark, sf_dir, str(tmp_path / "demo_out"))
    assert (
        report["ingested"]
        >= report["after_quality_floor"]
        >= report["after_exact_dedup"]
        >= report["after_contamination_screen"]
        > 0
    )
    assert report["neardup_candidate_pairs"] >= 0
    assert sum(v["n_docs"] for v in report["per_lang"].values()) == (
        report["after_contamination_screen"]
    )
    out = report["output"]
    assert os.path.isdir(out["path"]) and out["files"] >= 1
    back = spark.read.parquet(out["path"])
    assert back.count() == report["after_contamination_screen"]
    assert "text" not in back.columns  # raw text dropped before landing
