"""PDF directory source -> paragraph rows -> chunk table (SURVEY.md §2.1
S1-S2, §2.3 C1-C4, §2.4 E1).

Spark-first split of the reference's extractor (src/pdf_extractor.py):

  * the scan is ``binaryFile`` with a ``*.pdf`` glob (reference: os.listdir
    + endswith filter, src/pdf_extractor.py:246-253);
  * everything after the scan runs in ONE Arrow-batched ``mapInPandas``
    pass (``extract_chunks``): page decoding and layout segmentation (they
    need the PDF library), the reference's clean / filter / chunk rule
    (``operators.chunking.chunk_paragraph``) and, for ingest, the batch
    embedder. The text is already in the Python worker; a second Python
    operator would start a second Python runner per task, which cost about
    1.3 s of CPU per 4-task build against about 0.1 s for the chunking and
    embedding work itself.

Segmentation semantics reproduce src/pdf_extractor.py:60-206 exactly,
including its quirks (documented inline) — but as pure functions over plain
records so they unit-test without PyMuPDF.

PyMuPDF is not installed in this container; ``decode_pages`` gates the
``fitz`` import and falls back to a deterministic fake for UTF-8 payloads
(each ``\\f`` form-feed separates pages, layout blocks absent -> plain-text
segmentation path), so the whole distributed pipeline — scan, Arrow
batching, schema, fan-out — is real and tested; only true-PDF decoding is
stubbed.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.embedding import batch_embedder
from ..operators.chunking import chunk_paragraph

# sentence-final punctuation (ASCII + CJK), reference src/pdf_extractor.py:132
_SENT_END = re.compile(r"[.。?？!！]$")
# list/enumeration markers that start a new paragraph (reference :179)
_LIST_MARKER = re.compile(r"^(\d+\.|\•|\*|\-|\t|    )")
_BLANK_SPLIT = re.compile(r"\n\s*\n")

PARAGRAPH_SCHEMA = (
    "source STRING, page_number INT, paragraph_number INT, "
    "total_pages INT, text STRING"
)
_PARAGRAPH_COLUMNS = (
    "source", "page_number", "paragraph_number", "total_pages", "text"
)
_CHUNK_SCHEMA = (
    "text STRING, source STRING, page_number INT, paragraph_number INT, "
    "total_pages INT, chunk_number INT"
)
_CHUNK_COLUMNS = (
    "text", "source", "page_number", "paragraph_number", "total_pages",
    "chunk_number",
)


def segment_layout(blocks: Sequence[dict[str, Any]]) -> list[str]:
    """C1+C2: paragraph segmentation over layout blocks.

    ``blocks`` is the distilled layout record: ``{"type": int, "y0": float,
    "lines": [{"text": str, "y1": float}]}`` (already span-joined and
    stripped — see ``decode_pages``).

    Boundary rules per line (reference src/pdf_extractor.py:97-110):
      * indentation start — kept for fidelity but unreachable: the line
        text is stripped before the test, so it never starts with spaces
        (the reference strips at :93 and tests at :101, same dead rule);
      * vertical gap: |block_y0 - previous line's y1| > 15pt. Note the
        reference compares the *block's* y0 against the rolling per-line
        y1 (:81,:105,:118) — reproduced as-is;
      * block-type change vs the previous *block* (:109,:120).

    Then the short-paragraph merge (C2, :126-143): fragments shorter than
    30 chars without sentence-final punctuation accumulate and attach to
    the next paragraph (or flush at end).
    """
    paragraphs: list[str] = []
    pending: list[str] = []
    prev_block_type: int | None = None
    rolling_y1 = 0.0

    for block in blocks:
        btype = block.get("type", 0)
        y0 = block.get("y0", 0.0)
        for line in block.get("lines", ()):
            text = line["text"]
            if not text:
                continue
            starts_new = (
                text.startswith("    ")
                or text.startswith("\t")
                or abs(y0 - rolling_y1) > 15
                or (prev_block_type is not None and prev_block_type != btype)
            )
            if starts_new and pending:
                paragraphs.append(" ".join(pending))
                pending = []
            pending.append(text)
            rolling_y1 = line.get("y1", 0.0)
        prev_block_type = btype
    if pending:
        paragraphs.append(" ".join(pending))

    return _merge_short(paragraphs)


def _merge_short(paragraphs: list[str]) -> list[str]:
    """C2 forward-merge of incomplete fragments (src/pdf_extractor.py:126-143)."""
    merged: list[str] = []
    carry = ""
    for p in paragraphs:
        if len(p) < 30 and not _SENT_END.search(p):
            carry += " " + p
        elif carry:
            merged.append((carry + " " + p).strip())
            carry = ""
        else:
            merged.append(p)
    if carry:
        merged.append(carry.strip())
    return merged


def segment_plain(text: str) -> list[str]:
    """C3 plain-text fallback segmentation (src/pdf_extractor.py:151-206).

    Blank-line split, then a per-line state machine: a stripped line starts
    a new paragraph when it carries a list marker, or when the accumulated
    line ends with sentence-final punctuation; otherwise it joins the
    accumulator with a space. Every flushed accumulator is its own
    paragraph (the reference extends the page list with each one, :204).
    """
    out: list[str] = []
    for raw in _BLANK_SPLIT.split(text):
        if not raw.strip():
            continue
        acc = ""
        for line in raw.split("\n"):
            line = line.strip()
            if not line:
                if acc:
                    out.append(acc)
                    acc = ""
                continue
            if acc and (_LIST_MARKER.match(line) or _SENT_END.search(acc)):
                out.append(acc)
                acc = line
            else:
                acc = f"{acc} {line}" if acc else line
        if acc:
            out.append(acc)
    return out


def decode_pages(content: bytes, path: str) -> list[dict[str, Any]]:
    """S2: bytes -> per-page records ``{"blocks": [...] | None, "raw": str}``.

    Real PDFs need PyMuPDF (reference src/pdf_extractor.py:11,63): when
    ``fitz`` imports, each page yields distilled layout blocks (spans
    joined with a trailing space then stripped, :88-93) plus its raw text
    for the fallback path. Without it, UTF-8 payloads decode as fake
    multi-page plain text (form-feed = page break, no layout blocks);
    anything else raises NotImplementedError — the stub boundary.
    """
    try:
        import fitz  # type: ignore
    except ImportError:
        fitz = None

    if fitz is not None and content[:5] == b"%PDF-":
        pages = []
        with fitz.open(stream=content, filetype="pdf") as doc:
            for page in doc:
                blocks = []
                for b in page.get_text("dict")["blocks"]:
                    if "lines" not in b:
                        continue
                    lines = []
                    for ln in b["lines"]:
                        joined = "".join(
                            s["text"] + " "
                            for s in ln.get("spans", ())
                            if s.get("text", "").strip()
                        ).strip()
                        lines.append(
                            {"text": joined, "y1": ln.get("bbox", [0] * 4)[3]}
                        )
                    blocks.append(
                        {
                            "type": b.get("type", 0),
                            "y0": b.get("bbox", [0] * 4)[1],
                            "lines": lines,
                        }
                    )
                pages.append({"blocks": blocks or None, "raw": page.get_text()})
        return pages

    try:
        decoded = content.decode("utf-8")
    except UnicodeDecodeError:
        raise NotImplementedError(
            f"real PDF decoding requires PyMuPDF (not installed): {path}"
        ) from None
    return [{"blocks": None, "raw": t} for t in decoded.split("\f")]


def page_paragraphs(page: dict[str, Any]) -> list[str]:
    """C1->C3 fallback chain for one page (src/pdf_extractor.py:65-67,
    145-147): no layout blocks, or layout segmentation came back empty ->
    plain-text segmentation."""
    if page["blocks"]:
        paras = segment_layout(page["blocks"])
        if paras:
            return paras
    return segment_plain(page["raw"])


DOC_META_SCHEMA = (
    "filename STRING, total_pages INT, author STRING, title STRING"
)


def document_metadata(files: DataFrame) -> DataFrame:
    """P7 (src/pdf_extractor.py:208-215): per-document metadata with
    defaults — author falls back to '未知', title to the filename stem.

    The decode leg (mapInPandas) emits raw PDF metadata (None when absent
    or when running on the stub decoder); the default-filling is the P7
    relational projection itself — F.coalesce over JVM columns, exactly
    SURVEY §2.2's mapping, applied AFTER the python boundary so it stays
    in codegen."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            import fitz  # type: ignore
        except ImportError:
            fitz = None
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                filename = os.path.basename(path)
                data = bytes(content)
                author = title = None
                if fitz is not None and data[:5] == b"%PDF-":
                    with fitz.open(stream=data, filetype="pdf") as doc:
                        pages = len(doc)
                        author = doc.metadata.get("author") or None
                        title = doc.metadata.get("title") or None
                else:
                    pages = len(decode_pages(data, path))
                rows.append((filename, pages, author, title))
            yield pd.DataFrame(
                rows, columns=["filename", "total_pages", "author", "title"]
            )

    raw = files.select("path", "content").mapInPandas(
        run, schema=DOC_META_SCHEMA
    )
    stem = F.regexp_replace("filename", r"\.[^.]*$", "")
    return raw.select(
        "filename",
        "total_pages",
        F.coalesce("author", F.lit("未知")).alias("author"),
        F.coalesce("title", stem).alias("title"),
    )


def scan_pdf_dir(spark: SparkSession, pdf_dir: str) -> DataFrame:
    """S1: distributed directory scan, one row per ``*.pdf`` file
    (case-insensitive, matching the reference's ``.lower().endswith``)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.[pP][dD][fF]")
        .load(pdf_dir)
    )


def _paragraph_rows(paths: Sequence[str], contents: Sequence[bytes]):
    """(source, page_number, paragraph_number, total_pages, text) for every
    paragraph of every file, 1-based numbers (src/pdf_extractor.py:36-41)."""
    for path, content in zip(paths, contents):
        filename = os.path.basename(path)
        pages = decode_pages(bytes(content), path)
        for page_idx, page in enumerate(pages):
            for para_idx, para in enumerate(page_paragraphs(page)):
                yield filename, page_idx + 1, para_idx + 1, len(pages), para


def _by_path(files: DataFrame) -> DataFrame:
    """(path, content) spread over the default parallelism by path: each
    file is independent, so the Python pass parallelizes per file, and
    one giant PDF doesn't serialize a partition."""
    n = files.sparkSession.sparkContext.defaultParallelism
    return files.select("path", "content").repartition(n, "path")


def _decode_segment(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            list(_paragraph_rows(pdf["path"], pdf["content"])),
            columns=_PARAGRAPH_COLUMNS,
        )


def extract_paragraphs(files: DataFrame) -> DataFrame:
    """S2+C1-C3 as one Arrow-batched mapInPandas stage: (path, content) ->
    paragraph rows with 1-based page/paragraph numbers."""
    return _by_path(files).mapInPandas(_decode_segment, PARAGRAPH_SCHEMA)


def extract_chunks(
    spark: SparkSession, pdf_dir: str, embed_dim: int | None = None
) -> DataFrame:
    """The reference's full extraction stage (src/pdf_extractor.py:15-58)
    as one scan plus ONE Arrow-batched mapInPandas pass: decode ->
    segment -> clean/filter/overlapping-chunk (``chunk_paragraph``) and,
    with ``embed_dim``, -> ``embedding ARRAY<FLOAT>`` from
    ``batch_embedder(embed_dim)``. Rows are the flattened chunk record of
    SURVEY.md §1.3 (``chunk_number`` null for unchunked texts)."""
    schema = _CHUNK_SCHEMA
    if embed_dim is not None:
        schema += ", embedding ARRAY<FLOAT>"

    def decode_chunk_embed(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        embed = batch_embedder(embed_dim) if embed_dim is not None else None
        for pdf in batches:
            rows = [
                (piece, source, page, para, total, number)
                for source, page, para, total, text in _paragraph_rows(
                    pdf["path"], pdf["content"]
                )
                for number, piece in chunk_paragraph(text)
            ]
            out = pd.DataFrame(rows, columns=_CHUNK_COLUMNS)
            if embed is not None:
                out["embedding"] = embed(out["text"])
            yield out

    files = scan_pdf_dir(spark, pdf_dir)
    return _by_path(files).mapInPandas(decode_chunk_embed, schema)
