"""ChunkWarehouse lifecycle: build / skip / force-rebuild / stats / export
(SURVEY.md §3.1 and §3.3 entry points)."""

from __future__ import annotations

import os
import shutil
import struct

import pytest

from data_engineering_1_spark.warehouse import (
    CHUNK_COLUMNS,
    CHUNKS,
    EMBEDDING_COLUMNS,
    EMBEDDINGS,
    ChunkWarehouse,
)


@pytest.fixture(scope="module")
def pdf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wh_pdfs")
    (d / "a.pdf").write_text(
        "First document paragraph, long enough to survive filters.",
        encoding="utf-8",
    )
    (d / "b.pdf").write_text(
        "Second document paragraph, also long enough to survive."
        "\f" + ("Second page filler sentence repeated. " * 16),
        encoding="utf-8",
    )
    return str(d)


def test_cold_build_then_warm_skip(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "wh1"))
    stats = wh.build(pdf_dir)
    assert stats["chunk_count"] > 0
    assert stats["chunk_count"] == stats["document_count"]
    assert os.listdir(wh.root) == [EMBEDDINGS]  # one stored table

    # warm restart (§3.3): same build call must be a no-op, not a failure
    again = wh.build(pdf_dir)
    assert again == stats

    per_src = {r["source"]: r["count"] for r in wh.chunk_counts_per_source().collect()}
    assert set(per_src) == {"a.pdf", "b.pdf"}
    assert per_src["b.pdf"] >= 2  # two pages


def test_force_rebuild_overwrites(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "wh2"))
    first = wh.build(pdf_dir)
    rebuilt = wh.build(pdf_dir, force_rebuild=True)
    assert rebuilt == first  # same inputs -> same counts, fresh tables


def test_chunk_ids_unique_and_embeddings_attached(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "wh3"))
    wh.build(pdf_dir)
    emb = wh.load("embeddings")
    n = emb.count()
    assert emb.select("chunk_id").distinct().count() == n
    row = emb.select("embedding").first()
    assert len(row.embedding) == 64


def test_reset_drops_tables(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "wh4"))
    wh.build(pdf_dir)
    wh.reset()
    assert wh.count(CHUNKS) == 0
    assert wh.stats() == {"chunk_count": 0, "document_count": 0}


def test_reset_clears_a_root_an_older_build_wrote(spark, pdf_dir, tmp_path):
    """Older builds stored a ``chunks`` table beside ``embeddings``; a
    build on such a root skips, serves ``chunks`` as the projection, and
    ``reset()`` leaves neither directory behind."""
    wh = ChunkWarehouse(spark, str(tmp_path / "older"))
    stats = wh.build(pdf_dir)
    wh.load(CHUNKS).write.parquet(wh.path(CHUNKS))
    assert sorted(os.listdir(wh.root)) == [CHUNKS, EMBEDDINGS]
    assert wh.build(pdf_dir) == stats
    wh.reset()
    assert os.listdir(wh.root) == []
    assert wh.stats() == {"chunk_count": 0, "document_count": 0}


def test_json_export_roundtrip(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "wh5"))
    stats = wh.build(pdf_dir)
    out = str(tmp_path / "dump_json")
    wh.export_json(out)
    back = spark.read.json(out)
    assert back.count() == stats["document_count"]
    assert "text" in back.columns and "chunk_id" in back.columns


# ---- one-pass ingest and the served embeddings relation ----


def _stored_rdd_ids(spark) -> set[int]:
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def _rows(df) -> list:
    return sorted(df.collect(), key=lambda r: r.chunk_id)


def _served(df) -> bool:
    """``df`` scans a registered checkpoint, not parquet files."""
    return "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def built(spark, pdf_dir, tmp_path_factory):
    wh = ChunkWarehouse(spark, str(tmp_path_factory.mktemp("served")))
    wh.build(pdf_dir)
    return wh


def test_served_relation_equals_the_table(spark, built):
    served = built.load(EMBEDDINGS)
    disk = spark.read.parquet(built.path(EMBEDDINGS))
    assert _served(served)
    assert served.schema == disk.schema  # nullability included
    assert served.columns == list(EMBEDDING_COLUMNS)
    assert _rows(served) == _rows(disk)


def test_chunks_is_the_projection_of_embeddings(spark, built, tmp_path):
    """``load(CHUNKS)`` is ``load(EMBEDDINGS)`` without the vector
    columns, in rows and schema (nullability included), both when served
    and when read from parquet (a copy of the root has no entry)."""
    copy = ChunkWarehouse(spark, str(tmp_path / "copy"))
    shutil.copytree(built.root, copy.root)
    for wh, served in ((built, True), (copy, False)):
        chunks = wh.load(CHUNKS)
        want = wh.load(EMBEDDINGS).select(*CHUNK_COLUMNS)
        assert _served(chunks) is served
        assert chunks.columns == list(CHUNK_COLUMNS)
        assert chunks.schema == want.schema
        assert _rows(chunks) == _rows(want)
    assert copy.load(CHUNKS).schema == built.load(CHUNKS).schema
    with pytest.raises(ValueError):
        built.load("chunk")


def test_stored_norm_is_vec_norm_bit_for_bit(spark, built):
    from pyspark.sql import functions as F

    from data_engineering_1_spark.functions.vector import vec_norm

    rows = (
        spark.read.parquet(built.path(EMBEDDINGS))
        .select("embedding_norm", vec_norm("embedding").alias("again"))
        .collect()
    )
    assert rows and all(
        struct.pack("<d", r.embedding_norm) == struct.pack("<d", r.again)
        for r in rows
    )
    assert built.load(EMBEDDINGS).filter(F.col("embedding_norm") <= 0).count() == 0


def _jobs(spark, group: str, call) -> tuple[object, int]:
    """``call()``'s result and the Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_forced_build_submits_at_most_five_jobs(spark, pdf_dir, tmp_path):
    """Checkpoint, count, one parquet write."""
    wh = ChunkWarehouse(spark, str(tmp_path / "jobs"))
    first = wh.build(pdf_dir)
    got, jobs = _jobs(
        spark,
        "test-warehouse-forced-build",
        lambda: wh.build(pdf_dir, force_rebuild=True),
    )
    assert got == first
    assert 0 < jobs <= 5


def test_skip_build_submits_at_most_three_jobs(spark, pdf_dir, tmp_path):
    """A build that skips counts the one table once: served, or read from
    parquet (a copy of the root has no entry)."""
    wh = ChunkWarehouse(spark, str(tmp_path / "skip"))
    first = wh.build(pdf_dir)
    copy = ChunkWarehouse(spark, str(tmp_path / "skip_copy"))
    shutil.copytree(wh.root, copy.root)
    for i, w in enumerate((wh, copy)):
        got, jobs = _jobs(
            spark, f"test-warehouse-skip-{i}", lambda: w.build(pdf_dir)
        )
        assert got == first
        assert 0 < jobs <= 3


def test_rebuild_from_another_instance_serves_new_vectors(
    spark, pdf_dir, tmp_path
):
    root = str(tmp_path / "shared")
    wh = ChunkWarehouse(spark, root)
    before = wh.build(pdf_dir)
    old_ids = {r.chunk_id for r in wh.load(EMBEDDINGS).collect()}

    changed = tmp_path / "changed_pdfs"
    changed.mkdir()
    (changed / "c.pdf").write_text(
        "A third document that replaces the others, long enough to stay.",
        encoding="utf-8",
    )
    other = ChunkWarehouse(spark, root)
    after = other.build(str(changed), force_rebuild=True)
    assert after != before

    served = wh.load(EMBEDDINGS)
    assert _served(served)
    new_ids = {r.chunk_id for r in served.collect()}
    assert new_ids and not new_ids & old_ids
    assert new_ids == {
        r.chunk_id for r in spark.read.parquet(wh.path(EMBEDDINGS)).collect()
    }


def test_changed_files_are_read_from_parquet(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "changed"))
    wh.build(pdf_dir)
    served = wh.load(EMBEDDINGS)
    rdd = _rdd_id(served)
    # another writer replaces the table's files behind the registry
    served.limit(1).write.mode("overwrite").parquet(
        str(tmp_path / "one_row")
    )
    spark.read.parquet(str(tmp_path / "one_row")).write.mode(
        "overwrite"
    ).parquet(wh.path(EMBEDDINGS))
    again = wh.load(EMBEDDINGS)
    assert not _served(again)
    assert again.count() == 1
    assert rdd not in _stored_rdd_ids(spark)


def test_reset_and_force_rebuild_release_the_entry(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "release"))
    wh.build(pdf_dir)
    first = _rdd_id(wh.load(EMBEDDINGS))
    assert first in _stored_rdd_ids(spark)
    wh.build(pdf_dir, force_rebuild=True)
    assert first not in _stored_rdd_ids(spark)
    second = _rdd_id(wh.load(EMBEDDINGS))
    assert second != first and second in _stored_rdd_ids(spark)
    wh.reset()
    assert second not in _stored_rdd_ids(spark)


def test_every_branch_returns_the_table_counts(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "branches"))
    fresh = wh.build(pdf_dir)
    n = fresh["chunk_count"]
    assert fresh == {"chunk_count": n, "document_count": n}
    assert wh.build(pdf_dir) == fresh  # skip
    assert wh.build(pdf_dir, force_rebuild=True) == fresh  # force
    assert wh.stats() == fresh

    # a directory that holds no table counts 0 and is left alone
    shutil.rmtree(wh.path(EMBEDDINGS))
    os.mkdir(wh.path(EMBEDDINGS))
    assert wh.build(pdf_dir) == {"chunk_count": 0, "document_count": 0}
    assert wh.count(CHUNKS) == 0
    assert os.listdir(wh.path(EMBEDDINGS)) == []

    # only a missing table counts 0: an unreadable one raises
    with open(os.path.join(wh.path(EMBEDDINGS), "part-0.parquet"), "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception, match="part-0.parquet"):
        wh.count(EMBEDDINGS)


def test_no_norm_in_sources_or_export(spark, built, tmp_path):
    from data_engineering_1_spark.operators import qa

    emb = built.load(EMBEDDINGS)
    for method in ("exact", "ivf"):
        ans = qa.answer_with_sources(
            spark,
            "second page filler",
            emb,
            top_k=2,
            id_col="chunk_id",
            method=method,
            n_clusters=2,
            nprobe=2,
        )
        assert len(ans["sources"]) == 2
        for s in ans["sources"]:
            assert "embedding_norm" not in s["metadata"]
            assert "embedding" not in s["metadata"]
    out = str(tmp_path / "export")
    built.export_json(out)
    cols = spark.read.json(out).columns
    assert "embedding_norm" not in cols and "embedding" not in cols


# ---- the fused ingest pass: one Python operator per task ----


def _para(n: int) -> str:
    """One fake-PDF paragraph of exactly ``n`` chars after cleaning."""
    words = ("spark chunk vector 数据 工程 embedding query " * 40)[: n - 1]
    return words.rstrip() + "." * (n - len(words.rstrip()))


@pytest.fixture(scope="module")
def edge_pdf_dir(tmp_path_factory):
    """Paragraphs at every chunking boundary, too-short fragments, and
    whitespace that only Python's \\s matches (U+3000, NBSP, U+001C,
    U+0085, U+2000-U+200A runs) inside lines."""
    d = tmp_path_factory.mktemp("edge_pdfs")
    lengths = (9, 10, 500, 501, 950, 951, 1400)
    (d / "edges.pdf").write_text(
        "\n\n".join(_para(n) for n in lengths)
        + "\f"
        + "tiny.\n\nshort 短.\n\n"
        + "全角　　空格 and no\xa0\xa0break   runs, "
        + "single　kept\x1c\x1cand\x85\x85end of the page paragraph."
        + "\n\n"
        + ("ideographic　　space repeated " * 30),
        encoding="utf-8",
    )
    (d / "plain.pdf").write_text(
        "A plain ascii paragraph that is long enough to be kept.",
        encoding="utf-8",
    )
    return str(d)


def test_build_equals_the_jvm_chunking_plan_bit_for_bit(
    spark, edge_pdf_dir, tmp_path
):
    """The fused pass (decode -> clean -> chunk -> embed in one Python
    operator) writes exactly what the composed plan writes: paragraphs
    from Python, the JVM clean/chunk plan, then the embedding UDF."""
    from pyspark.sql import functions as F

    from data_engineering_1_spark.functions.embedding import get_embedder
    from data_engineering_1_spark.functions.vector import vec_norm
    from data_engineering_1_spark.operators.chunking import (
        chunk_text,
        clean_documents,
    )
    from data_engineering_1_spark.sources import pdf as P

    wh = ChunkWarehouse(spark, str(tmp_path / "edges"))
    wh.build(edge_pdf_dir)

    paras = P.extract_paragraphs(P.scan_pdf_dir(spark, edge_pdf_dir))
    oracle = (
        chunk_text(clean_documents(paras, text_col="text"), text_col="cleaned")
        .select(
            F.col("chunk_text").alias("text"),
            "source",
            "page_number",
            "paragraph_number",
            "total_pages",
            "chunk_number",
            F.concat_ws(
                ":",
                "source",
                "page_number",
                "paragraph_number",
                F.coalesce(F.col("chunk_number"), F.lit(0)),
            ).alias("chunk_id"),
        )
        .withColumn("embedding", get_embedder()("text"))
        .withColumn("embedding_norm", vec_norm("embedding"))
    )
    for name, df, cols in (
        ("stored embeddings", spark.read.parquet(wh.path(EMBEDDINGS)), EMBEDDING_COLUMNS),
        ("loaded chunks", wh.load(CHUNKS), CHUNK_COLUMNS),
    ):
        got = [repr(tuple(r)) for r in _rows(df)]
        want = [repr(tuple(r)) for r in _rows(oracle.select(*cols))]
        assert got == want, name
    lengths = {len(r.text) for r in wh.load(CHUNKS).collect()}
    assert {10, 500, 501 - 450, 950 - 900, 951 - 900} <= lengths
    assert 9 not in lengths


def test_forced_build_runs_one_python_operator(
    spark, pdf_dir, tmp_path, monkeypatch
):
    """The checkpointed plan of a forced build crosses into Python once:
    one MapInPandas, no pandas-UDF or row-UDF evaluation node."""
    wh = ChunkWarehouse(spark, str(tmp_path / "plan"))
    wh.build(pdf_dir)
    plans = []
    DataFrame = type(spark.range(1))  # the concrete class
    checkpoint = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    wh.build(pdf_dir, force_rebuild=True)
    assert len(plans) == 1
    assert plans[0].count("MapInPandas") == 1, plans[0]
    assert "ArrowEvalPython" not in plans[0]
    assert "BatchEvalPython" not in plans[0]
