"""Chunking operator unit + property tests, pinned to the reference's
semantics (src/pdf_extractor.py:15-58): chunk_size=500, overlap=50,
stride 450, short-text passthrough with NULL chunk_number, <50-char tail
drop, chunk_number = i // 450 + 1.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_engineering_1_spark.operators.chunking import (
    chunk_documents,
    chunk_paragraph,
    clean_whitespace,
)

# every character Python's re \s matches (str.isspace): the reference
# cleans with re.sub(r"\s{2,}", " ", s).strip()
PY_WHITESPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]


def run_chunks(spark, texts):
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "source": ["s"] * len(texts),
            "text": texts,
        }
    )
    df = spark.createDataFrame(pdf)
    rows = (
        chunk_documents(df)
        .orderBy("doc_id", "chunk_number")
        .collect()
    )
    out = {}
    for r in rows:
        out.setdefault(r.doc_id, []).append((r.chunk_number, r.chunk_text))
    return out


def reference_chunks(text, chunk_size=500, overlap=50, min_para=10, min_chunk=50):
    """Direct reimplementation of the reference loop
    (src/pdf_extractor.py:30-55) for cross-checking."""
    import re

    cleaned = re.sub(r"\s{2,}", " ", text).strip()
    if len(cleaned) < min_para:
        return []
    if len(cleaned) <= chunk_size:
        return [(None, cleaned)]
    out = []
    for i in range(0, len(cleaned), chunk_size - overlap):
        chunk = cleaned[i : i + chunk_size]
        if len(chunk) >= min_chunk:
            out.append((i // (chunk_size - overlap) + 1, chunk))
    return out


def test_boundary_lengths(spark):
    texts = ["x" * n for n in (9, 10, 49, 50, 499, 500, 501, 549, 550, 950, 951, 1400)]
    got = run_chunks(spark, texts)
    for i, t in enumerate(texts):
        assert got.get(i, []) == reference_chunks(t), f"len={len(t)}"


def test_whitespace_cleaning(spark):
    texts = [
        "a  b\t\tc\n\nd" + "x" * 20,
        "   leading and trailing   " + "y" * 20 + "   ",
        "tab\tsingle space kept " + "z" * 20,
    ]
    got = run_chunks(spark, texts)
    for i, t in enumerate(texts):
        assert got.get(i, []) == reference_chunks(t)


def test_clean_whitespace_column(spark):
    df = spark.createDataFrame([("a  b   c ",)], "text string")
    assert df.select(clean_whitespace("text").alias("c")).first().c == "a b c"


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("ab 字\t\n.　\xa0\x1c\x85\x0b"),
            min_size=0,
            max_size=1200,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_chunking_matches_reference_property(spark, texts):
    got = run_chunks(spark, texts)
    for i, t in enumerate(texts):
        assert got.get(i, []) == reference_chunks(t)
        assert chunk_paragraph(t) == reference_chunks(t)


def test_every_python_whitespace_char_cleans_like_the_reference(spark):
    """The JVM cleaner, its DuckDB twin and ``chunk_paragraph`` treat all
    29 characters of Python's ``\\s`` as whitespace, and nothing else (U+200B
    and U+FEFF are not whitespace to Python)."""
    import re

    import duckdb

    from data_engineering_1_spark.plans.chunking_queries import _CLEAN_SQL

    assert len(PY_WHITESPACE) == 29
    texts = [
        f"{c}{c}lead{c}{c}run{c}single{c}x{c}trail{c}"
        for c in PY_WHITESPACE + ["\u200b", "\ufeff", "\x1b", "_"]
    ]
    want = [re.sub(r"\s{2,}", " ", t).strip() for t in texts]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    jvm = [
        r.c
        for r in df.select("i", clean_whitespace("text").alias("c"))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    query = f"SELECT {_CLEAN_SQL} FROM (SELECT ? AS text)"
    sql = [con.execute(query, [t]).fetchone()[0] for t in texts]
    python = [chunk_paragraph(t, min_len=0)[0][1] for t in texts]
    assert jvm == want
    assert sql == want
    assert python == want
    assert want[0] == "lead run\tsingle\tx\ttrail"


def test_coverage_invariant(spark):
    """Concatenating stride-窗 prefixes reconstructs the input: chunk i
    starts at (i-1)*450 and covers 500 chars."""
    text = "".join(chr(ord("a") + i % 26) for i in range(1701))
    got = run_chunks(spark, [text])[0]
    rebuilt = "".join(c[: 450] for _, c in got[:-1]) + got[-1][1]
    assert rebuilt == text
