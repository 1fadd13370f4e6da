"""Declared queries for the reference's text-extraction pipeline surface.

Covers SURVEY.md §2.2 (P1-P3 clean/filter), §2.3 (C4 fixed-size overlapping
chunking — the flagship), and §2.5 (A2 per-source chunk counts), all against
the ``documents`` fixture table standing in for extracted PDF paragraphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.chunking import WS_CLASS, chunk_documents, clean_whitespace
from .registry import declared_query

# DuckDB twin of the clean step (src/pdf_extractor.py:30). NB: DuckDB
# regexp_replace is single-match unless the 'g' flag is passed; Spark's
# replaces all matches by default. The strip is a regex, not trim():
# SQL trim removes only spaces, Python str.strip() all whitespace.
# WS_CLASS is Python's whitespace set; RE2's \s is ASCII-only.
_CLEAN_SQL = (
    f"regexp_replace(regexp_replace(text, '{WS_CLASS}{{2,}}', ' ', 'g'),"
    f" '^{WS_CLASS}+|{WS_CLASS}+$', '', 'g')"
)


@declared_query(
    "chunk_docs",
    oracle=f"""
    WITH cleaned AS (
        SELECT doc_id, source, {_CLEAN_SQL} AS t
        FROM documents
    ), kept AS (
        SELECT * FROM cleaned WHERE length(t) >= 10
    ), short AS (
        SELECT doc_id, source, CAST(NULL AS INTEGER) AS chunk_number,
               t AS chunk_text
        FROM kept WHERE length(t) <= 500
    ), long AS (
        SELECT k.doc_id, k.source,
               CAST(s.i / 450 + 1 AS INTEGER) AS chunk_number,
               substring(k.t, CAST(s.i AS INTEGER) + 1, 500) AS chunk_text
        FROM kept k, LATERAL (
            SELECT unnest(range(0, length(k.t), 450)) AS i
        ) s
        WHERE length(k.t) > 500
          AND length(substring(k.t, CAST(s.i AS INTEGER) + 1, 500)) >= 50
    )
    SELECT * FROM short
    UNION ALL
    SELECT * FROM long
    """,
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (C4): clean -> min-length filter -> 500/450 overlapping
    chunking, pure Spark posexplode/substring. Mirrors
    src/pdf_extractor.py:15-58 semantics exactly (chunk_number NULL for
    short texts; tail chunks <50 chars dropped)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, keep_cols=("doc_id", "source"))


@declared_query(
    "chunk_stats",
    oracle=f"""
    WITH cleaned AS (
        SELECT doc_id, source, {_CLEAN_SQL} AS t
        FROM documents
    ), kept AS (
        SELECT * FROM cleaned WHERE length(t) >= 10
    ), chunks AS (
        SELECT source, t AS chunk_text FROM kept WHERE length(t) <= 500
        UNION ALL
        SELECT k.source,
               substring(k.t, CAST(s.i AS INTEGER) + 1, 500) AS chunk_text
        FROM kept k, LATERAL (
            SELECT unnest(range(0, length(k.t), 450)) AS i
        ) s
        WHERE length(k.t) > 500
          AND length(substring(k.t, CAST(s.i AS INTEGER) + 1, 500)) >= 50
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(round(CAST(sum(length(chunk_text)) AS DOUBLE) / count(*), 6)
                AS DOUBLE) AS avg_chunk_chars
    FROM chunks
    GROUP BY source
    ORDER BY source
    """,
)
def chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-source chunk counts (reference: per-file chunk-count report,
    src/pdf_extractor.py:57,264 and src/main.py:32) plus mean chunk length.
    Partial aggregation (map-side combine) is planned by Catalyst; the only
    shuffle is the final groupBy(source) exchange."""
    chunks = chunk_docs(spark, sf_dir)
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.round(
                F.sum(F.length("chunk_text")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_chunk_chars"),
        )
        .orderBy("source")
    )


@declared_query(
    "doc_clean_project",
    oracle=f"""
    SELECT doc_id, source, lang,
           {_CLEAN_SQL} AS cleaned,
           CAST(length({_CLEAN_SQL}) AS INTEGER) AS clean_len
    FROM documents
    WHERE length({_CLEAN_SQL}) >= 10
    """,
)
def doc_clean_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P4: whitespace-normalize, drop <10 chars, project metadata
    columns (reference: src/pdf_extractor.py:30-41)."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = clean_whitespace("text")
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            cleaned.alias("cleaned"),
            F.length(cleaned).cast("int").alias("clean_len"),
        )
        .filter(F.col("clean_len") >= 10)
    )


@declared_query(
    "source_stem_project",
    oracle="""
    SELECT DISTINCT source,
           regexp_replace(source, '\\.[^.]*$', '') AS stem,
           upper(source) AS source_upper
    FROM documents
    """,
)
def source_stem_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: filename -> stem projection (os.path.splitext analog,
    reference src/pdf_extractor.py:214,236)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "source",
        F.regexp_replace("source", r"\.[^.]*$", "").alias("stem"),
        F.upper("source").alias("source_upper"),
    ).distinct()
