"""Chunk/vector warehouse: the reference's persistence + orchestration
layer Spark-first (SURVEY.md §2.1 S3-S8, §2.5 A1-A3, §3.1 lifecycle).

The reference pipeline (src/main.py:14-78) is: extract PDFs -> CSV,
reload CSVs -> Chroma collection (skip when already populated, destroy on
--force-rebuild), then dump for inspection. Here ingest is ONE pass:

  * one plan: PDF dir scan -> ONE Python pass per task that decodes,
    segments, cleans, chunks and embeds (``extract_chunks`` with an
    embedding width, one Python runner per task) -> ``chunk_id`` ->
    ``embedding_norm`` (``vec_norm``, stored so a question never
    re-derives it), taken as one eager local checkpoint. Only an
    embeddings table rebuilt from stored chunks uses the embedding
    pandas UDF (``get_embedder``)
  * ``embeddings`` and ``chunks`` parquet tables, both written from that
    checkpoint (no read-back, no second embedding pass); the build's
    counts are the checkpoint's
  * the checkpoint stays registered in the session registry
    (``edgecache``), keyed by (app, realpath(root), "embeddings"), and
    ``load("embeddings")`` serves it while the table's files on disk are
    the ones this build wrote (path, size and mtime_ns of each file)
  * skip-if-populated (src/main.py:27-28,42-43, vector_store.py:114-117)
    -> a table whose directory exists is not written (``mode("ignore")``)
  * --force-rebuild (src/main.py:38-39, vector_store.py:96-107 reset)
    -> ``mode("overwrite")``
  * save_content_for_inspection JSON dump (src/vector_store.py:184-205)
    -> ``df.write.json``
  * get_stats (src/vector_store.py:177-182) -> per-table counts

Scale: tables are unpartitioned parquet (nothing on the ask path prunes
by source); chunk ids are (source, page, paragraph, chunk) composites —
globally unique without the reference's driver-side enumerate
(src/vector_store.py:127), which would serialize at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.embedding import get_embedder
from .functions.vector import vec_norm
from .operators import edgecache
from .sources.pdf import extract_chunks

CHUNKS = "chunks"
EMBEDDINGS = "embeddings"
# each table's columns in stored order (chunks keeps the order it had
# when it was written partitioned by source, which read `source` last)
CHUNK_COLUMNS = (
    "text",
    "page_number",
    "paragraph_number",
    "total_pages",
    "chunk_number",
    "chunk_id",
    "source",
)
EMBEDDING_COLUMNS = (
    "chunk_id",
    "text",
    "source",
    "page_number",
    "paragraph_number",
    "total_pages",
    "chunk_number",
    "embedding",
    "embedding_norm",
)


def _listing(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative path, size, mtime_ns) of every file under ``path``: the
    identity of the files one write left there."""
    out = []
    for d, _, files in os.walk(path):
        for name in files:
            p = os.path.join(d, name)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


class ChunkWarehouse:
    """Parquet-backed replacement for the reference's CSV dir + Chroma
    collection pair."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        try:
            self.spark.read.parquet(self.path(table)).schema
            return True
        except Exception:
            return False

    def load(self, table: str) -> DataFrame:
        """The table; for ``embeddings``, the relation the last build on
        this root registered, while the files on disk are the ones it
        wrote (a changed listing releases it and reads parquet)."""
        if table == EMBEDDINGS:
            served = edgecache.lookup(
                self.spark, self.root, EMBEDDINGS, _listing(self.path(table))
            )
            if served is not None:
                return served
        return self.spark.read.parquet(self.path(table))

    def count(self, table: str) -> int:
        """A1 (collection.count, src/vector_store.py:98,115,150,180)."""
        return self.load(table).count() if self.exists(table) else 0

    def build(
        self,
        pdf_dir: str,
        force_rebuild: bool = False,
        embed_dim: int = 64,
    ) -> dict[str, int]:
        """setup_knowledge_base (src/main.py:14-78): extract + chunk +
        embed as one checkpointed pass, written to the chunks and
        embeddings tables. Idempotent unless ``force_rebuild`` (then both
        tables are overwritten, the reset semantics of
        src/vector_store.py:96-107). A missing embeddings table next to
        an existing chunks table is embedded from the stored chunks."""
        if force_rebuild:
            edgecache.release(self.spark, self.root, EMBEDDINGS)
            mode = "overwrite"
        else:
            mode = "ignore"
        # mode("ignore") writes nothing where the directory exists, even
        # one that holds no table, so such a table is not written at all
        todo = [
            t
            for t in (CHUNKS, EMBEDDINGS)
            if force_rebuild or not os.path.exists(self.path(t))
        ]
        if not todo:
            return self.stats()

        if CHUNKS in todo:
            # one Python pass per task: decode, chunk and, when the
            # embeddings table is written too, embed. nullif keeps
            # chunk_id nullable, as parquet reads it back, so the served
            # relation has the table's schema; concat_ws ends in a
            # non-null part here, so no id is empty or changed
            dim = embed_dim if EMBEDDINGS in todo else None
            rel = extract_chunks(self.spark, pdf_dir, dim).withColumn(
                "chunk_id",
                F.nullif(
                    F.concat_ws(
                        ":",
                        "source",
                        "page_number",
                        "paragraph_number",
                        F.coalesce(F.col("chunk_number"), F.lit(0)),
                    ),
                    F.lit(""),
                ),
            )
        else:
            rel = self.load(CHUNKS).withColumn(
                "embedding", get_embedder(dim=embed_dim)("text")
            )
        if EMBEDDINGS in todo:  # the served relation: the table's columns
            rel = rel.select(
                *EMBEDDING_COLUMNS[:-1],
                vec_norm("embedding").alias("embedding_norm"),
            )
        # a plain checkpoint, not edgecache's measured-statistics one: the
        # ask path joins nothing, and the extra cache pass cost about 0.9 s
        # of CPU per build (8 PDFs, 807 chunks, 4 cores)
        ckpt = rel.localCheckpoint()
        n = ckpt.count()

        for t in todo:
            cols = CHUNK_COLUMNS if t == CHUNKS else EMBEDDING_COLUMNS
            ckpt.select(*cols).write.mode(mode).parquet(self.path(t))
        if EMBEDDINGS in todo:
            edgecache.register(
                self.spark,
                self.root,
                EMBEDDINGS,
                ckpt,
                _listing(self.path(EMBEDDINGS)),
            )
        return {
            "chunk_count": n,
            "document_count": (
                n if EMBEDDINGS in todo else self.count(EMBEDDINGS)
            ),
        }

    def stats(self) -> dict[str, int]:
        """A2+A3: per-table counts (the reference's stage-count prints and
        get_stats record)."""
        return {
            "chunk_count": self.count(CHUNKS),
            "document_count": self.count(EMBEDDINGS),
        }

    def chunk_counts_per_source(self) -> DataFrame:
        """A2: chunk-count per file (src/pdf_extractor.py:57,264)."""
        return self.load(CHUNKS).groupBy("source").count()

    def export_json(self, out_path: str) -> None:
        """S6: save_content_for_inspection (src/vector_store.py:184-205)."""
        self.load(EMBEDDINGS).drop("embedding", "embedding_norm").write.mode(
            "overwrite"
        ).json(out_path)

    def reset(self) -> None:
        """S7 destructive reset (src/vector_store.py:96-107): release the
        served relation and drop both tables (overwrite-on-next-build
        gives the recreate half)."""
        import shutil

        edgecache.release(self.spark, self.root, EMBEDDINGS)
        for t in (CHUNKS, EMBEDDINGS):
            shutil.rmtree(self.path(t), ignore_errors=True)
