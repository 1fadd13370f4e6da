"""Text cleaning + fixed-size overlapping chunking, pure Spark, with one
plain-Python twin of the same rule.

Reproduces the reference's extraction-stage text pipeline with identical
semantics as one lazy, UDF-free DataFrame plan (whole-stage codegen,
one-to-many via posexplode — no Python in the hot path), for text that is
already a column. ``chunk_paragraph`` is the same rule over one Python
string, for text that is still in a Python worker: PDF ingest decodes,
cleans, chunks and embeds in one pass (``sources.pdf.extract_chunks``):

  - whitespace normalization: collapse runs of >=2 whitespace chars to one
    space, then trim              (reference: src/pdf_extractor.py:30)
  - min-paragraph filter: drop cleaned texts shorter than 10 chars
                                  (reference: src/pdf_extractor.py:32-33)
  - overlapping chunking: chunk_size=500, overlap=50 => stride 450;
    chunk i covers [i, i+500); texts <= 500 chars pass through unchunked
    with NULL chunk_number; long-text chunks shorter than 50 chars are
    dropped; chunk_number = i // 450 + 1
                                  (reference: src/pdf_extractor.py:15,44-55)

Scale notes: the explode multiplies rows by ~len/450; everything stays
JVM-side and per-row independent, so the stage is embarrassingly parallel
— no shuffle is introduced. At 100 TB the input scan partitions by file
and the chunk fan-out keeps partition sizes bounded because output size is
O(input size * (1 + overlap/stride)) ~= 1.11x input.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK_SIZE = 500  # reference src/pdf_extractor.py:15
DEFAULT_OVERLAP = 50  # reference src/pdf_extractor.py:15
DEFAULT_MIN_PARAGRAPH = 10  # reference src/pdf_extractor.py:32
DEFAULT_MIN_CHUNK = 50  # reference src/pdf_extractor.py:50

# Python's ``re`` ``\s`` on str (the 29 characters of ``str.isspace``) as
# an explicit class in the ``\x{...}`` syntax that both Java regex and
# RE2 (DuckDB) read. Java's own ``\s`` is ASCII-only: it misses U+3000,
# NBSP, U+001C-U+001F, U+0085, U+2000-U+200A and the rest.
WS_CLASS = (
    r"[\x{09}-\x{0D}\x{1C}-\x{20}\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}"
    r"\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]"
)
_WS_RUN = re.compile(r"\s{2,}")


def clean_whitespace(col: Column | str) -> Column:
    """``re.sub(r'\\s{2,}', ' ', s).strip()`` (src/pdf_extractor.py:30).

    The strip is a regex (``^ws+|ws+$``), not ``F.trim`` — Spark's trim
    removes only spaces, while Python's ``str.strip()`` removes tabs and
    newlines too; a single trailing ``\\n`` survives the run-collapse
    (it's not a run of 2+) and must still be stripped. Both regexes use
    ``WS_CLASS``, Python's whitespace set.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, WS_CLASS + "{2,}", " "),
        f"^{WS_CLASS}+|{WS_CLASS}+$",
        "",
    )


def chunk_paragraph(
    text: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    min_len: int = DEFAULT_MIN_PARAGRAPH,
) -> list[tuple[int | None, str]]:
    """The reference's clean -> filter -> chunk rule for one text, in
    Python (src/pdf_extractor.py:30-55): ``(chunk_number, chunk_text)``
    pairs, the same rows as ``clean_documents`` + ``chunk_text`` give.
    Used where the text is already in a Python worker (the ingest pass,
    the UDF demos), so it never costs a boundary crossing of its own."""
    cleaned = _WS_RUN.sub(" ", text).strip()
    if len(cleaned) < min_len:
        return []
    if len(cleaned) <= chunk_size:
        return [(None, cleaned)]
    stride = chunk_size - DEFAULT_OVERLAP
    pieces = (
        (start // stride + 1, cleaned[start : start + chunk_size])
        for start in range(0, len(cleaned), stride)
    )
    return [(n, p) for n, p in pieces if len(p) >= DEFAULT_MIN_CHUNK]


def clean_documents(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "cleaned",
    min_len: int = DEFAULT_MIN_PARAGRAPH,
) -> DataFrame:
    """Normalize whitespace and drop too-short texts (P1+P2)."""
    return df.withColumn(out_col, clean_whitespace(text_col)).filter(
        F.length(out_col) >= min_len
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "cleaned",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    min_chunk: int = DEFAULT_MIN_CHUNK,
    chunk_col: str = "chunk_text",
    number_col: str = "chunk_number",
) -> DataFrame:
    """One row -> many chunk rows, pure Spark (no UDF).

    Exactly mirrors src/pdf_extractor.py:44-55:
      * len(text) <= chunk_size: single passthrough row, chunk_number NULL
      * else: starts i = 0, stride, 2*stride, ... while i < len;
        chunk = text[i : i+chunk_size]; keep only len(chunk) >= min_chunk;
        chunk_number = i // stride + 1.

    Implementation: ``posexplode(sequence(0, len-1, stride))`` generates the
    start offsets JVM-side; ``substring`` slices. The short-text case is
    folded in by exploding a single-element [0] array so the plan stays one
    generate + project (no union of two scans).
    """
    stride = chunk_size - overlap
    n = F.length(F.col(text_col))
    is_long = n > F.lit(chunk_size)
    starts = F.when(
        is_long, F.sequence(F.lit(0), n - F.lit(1), F.lit(stride))
    ).otherwise(F.array(F.lit(0)))

    exploded = df.select(
        "*", F.posexplode(starts).alias("__pos", "__start")
    )
    n2 = F.length(F.col(text_col))
    is_long2 = n2 > F.lit(chunk_size)
    chunk = F.substring(F.col(text_col), F.col("__start") + 1, chunk_size)
    return (
        exploded.withColumn(chunk_col, chunk)
        .withColumn(
            number_col,
            F.when(is_long2, F.col("__pos") + 1).cast("int"),
        )
        .filter(~is_long2 | (F.length(F.col(chunk_col)) >= min_chunk))
        .drop("__pos", "__start")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("doc_id", "source"),
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    min_paragraph: int = DEFAULT_MIN_PARAGRAPH,
    min_chunk: int = DEFAULT_MIN_CHUNK,
) -> DataFrame:
    """Full clean -> filter -> chunk pipeline (the reference's extraction
    stage, src/pdf_extractor.py:15-58, as one lazy DAG)."""
    cleaned = clean_documents(df, text_col=text_col, min_len=min_paragraph)
    chunked = chunk_text(
        cleaned,
        text_col="cleaned",
        chunk_size=chunk_size,
        overlap=overlap,
        min_chunk=min_chunk,
    )
    return chunked.select(*keep_cols, "chunk_number", "chunk_text")
