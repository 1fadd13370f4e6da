"""ChunkWarehouse lifecycle: build / skip / force-rebuild / stats / export
(SURVEY.md §3.1 and §3.3 entry points)."""

from __future__ import annotations

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
    chunks = spark.read.parquet(built.path(CHUNKS))
    assert chunks.columns == list(CHUNK_COLUMNS)
    assert _rows(chunks) == _rows(served.select(*CHUNK_COLUMNS))


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


def test_forced_build_submits_at_most_six_jobs(spark, pdf_dir, tmp_path):
    wh = ChunkWarehouse(spark, str(tmp_path / "jobs"))
    first = wh.build(pdf_dir)
    sc = spark.sparkContext
    group = "test-warehouse-forced-build"
    sc.setJobGroup(group, "one forced build")
    try:
        assert wh.build(pdf_dir, force_rebuild=True) == first
    finally:
        sc.setJobGroup("", "")
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


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
    import shutil

    wh = ChunkWarehouse(spark, str(tmp_path / "branches"))
    fresh = wh.build(pdf_dir)
    n = fresh["chunk_count"]
    assert fresh == {"chunk_count": n, "document_count": n}
    assert wh.build(pdf_dir) == fresh  # skip
    assert wh.build(pdf_dir, force_rebuild=True) == fresh  # force

    # embeddings missing: embedded from the stored chunks, not the PDFs
    shutil.rmtree(wh.path(EMBEDDINGS))
    assert wh.build(str(tmp_path / "no_pdfs_here")) == fresh
    assert _rows(wh.load(EMBEDDINGS)) == _rows(
        spark.read.parquet(wh.path(EMBEDDINGS))
    )

    # chunks missing: rebuilt from the PDFs; embeddings kept as stored
    one = tmp_path / "one_pdf"
    one.mkdir()
    shutil.copy(f"{pdf_dir}/a.pdf", one / "a.pdf")
    shutil.rmtree(wh.path(CHUNKS))
    got = wh.build(str(one))
    assert got == {"chunk_count": 1, "document_count": n}
    assert wh.stats() == got

    # a directory that holds no table is left alone (mode "ignore")
    shutil.rmtree(wh.path(CHUNKS))
    (tmp_path / "branches" / CHUNKS).mkdir()
    assert wh.build(pdf_dir) == {"chunk_count": 0, "document_count": n}


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
