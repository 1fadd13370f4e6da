"""UDF / UDAF / UDTF surface (SURVEY.md §2.10).

Reference precedents: the PDF extractor is morally a UDTF (one file row ->
many chunk rows, src/pdf_extractor.py:15-58), the embedder a vectorized
scalar UDF (src/vector_store.py:92-94). This module shows each Spark
user-function flavor on engine-native tasks, with the performance ordering
made explicit:

    built-in functions (JVM codegen)            — always first choice
    > pandas_udf / mapInPandas (Arrow batches)  — when Python is required
    > F.udf row-at-a-time                       — only for tiny columns

The UDTF chunker and the row-at-a-time cleaner call the same plain
function as PDF ingest's Python pass (``operators.chunking.chunk_paragraph``),
and tests pin them to ``operators.chunking``'s pure-Spark plan. For text
that is already a column, use the pure-Spark one (codegen, no Python
workers).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf
from pyspark.sql.types import DoubleType

from ..operators.chunking import chunk_paragraph


@udtf(returnType="chunk_number INT, chunk_text STRING")
class ChunkTextUDTF:
    """Python UDTF (Spark 4): one text -> its overlapping chunks, through
    ``operators.chunking.chunk_paragraph`` with no length filter, like
    ``operators.chunking.chunk_text`` (reference src/pdf_extractor.py:
    44-55; a cleaned text passes the clean rule unchanged). Registered
    for SQL via ``register_udfs`` ->
    ``SELECT * FROM chunk_text_udtf('...')``."""

    def eval(self, text: str):  # noqa: D102
        if text is not None:
            yield from chunk_paragraph(text, min_len=0)


@F.pandas_udf(DoubleType())
def weighted_mean_udaf(values: pd.Series, weights: pd.Series) -> float:
    """GROUPED_AGG pandas UDF (a UDAF): weight-averaged value. Arrow ships
    each group's columns once; the numpy reduction is vectorized."""
    denom = weights.sum()
    return float((values * weights).sum() / denom) if denom else float("nan")


def zscore_per_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "zscore",
) -> DataFrame:
    """applyInPandas grouped-map: per-group z-score. The groupBy shuffles
    each group to one worker; population std (ddof=0) keeps single-row
    groups finite (z=0). Note a pure-Spark window twin exists and is
    preferred at scale — this is the §2.10 demo of the grouped-map shape."""
    schema = f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}, {out_col} double"

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf[value_col].std(ddof=0)
        mean = pdf[value_col].mean()
        pdf[out_col] = (pdf[value_col] - mean) / std if std else 0.0
        return pdf

    return df.groupBy(group_col).applyInPandas(norm, schema=schema)


def clean_whitespace_pyudf():
    """Row-at-a-time Python UDF of the P1 cleaner — exists to DEMONSTRATE
    the slow path and to pin its output to the fast JVM expression in
    tests. Never used in any shipped plan."""

    @F.udf("string")
    def clean(s: str | None) -> str | None:
        if s is None:
            return None
        # the clean rule alone: no length filter, one chunk of any length
        return chunk_paragraph(s, chunk_size=len(s), min_len=0)[0][1]

    return clean


def mapinpandas_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """mapInPandas one->many: text -> token rows (the UDTF shape at the
    partition level, no per-row python call)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = (
                pdf[text_col]
                .fillna("")
                .str.lower()
                .str.strip()
                .str.split(r"\s+", regex=True)
                .map(lambda row: [t for t in row if t])
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].repeat(toks.str.len()).values,
                    "token": [t for row in toks for t in row],
                }
            )

    return df.select("doc_id", text_col).mapInPandas(
        run, schema="doc_id bigint, token string"
    )


def mapinarrow_byte_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """mapInArrow (Spark 4's lowest-overhead Python boundary): per-row
    UTF-8 byte length and char length computed directly on Arrow
    RecordBatches — no pandas conversion at all, pyarrow compute kernels
    end to end. The right boundary when the Python side is itself
    Arrow-native (tokenizers, Arrow-IPC model servers, zero-copy numpy
    views); for pandas-shaped logic use mapInPandas instead.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            text = batch.column(batch.schema.get_field_index(text_col))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.binary_length(text.cast(pa.binary())),
                    pc.utf8_length(text),
                ],
                names=["doc_id", "n_bytes", "n_chars_arrow"],
            )

    return df.select("doc_id", text_col).mapInArrow(
        run, schema="doc_id bigint, n_bytes int, n_chars_arrow int"
    )


class SplitFixedUDTF:
    """Polymorphic Python UDTF (Spark 4 ``analyze``): output SCHEMA is
    computed at plan time from the constant ``n`` argument — n string
    columns c0..c{n-1} — the dynamic-schema half of the UDTF surface
    (ChunkTextUDTF above is the static-schema half). A CSV-ish splitter
    is the canonical use: the column count is data-design, not code."""

    @staticmethod
    def analyze(s, n):
        from pyspark.sql.types import StringType, StructType
        from pyspark.sql.udtf import AnalyzeResult

        if n.value is None:
            raise ValueError("n must be a constant literal")
        schema = StructType()
        for i in range(int(n.value)):
            schema = schema.add(f"c{i}", StringType())
        return AnalyzeResult(schema=schema)

    def eval(self, s, n):
        parts = (s or "").split(",")
        yield tuple(
            parts[i] if i < len(parts) else None for i in range(int(n))
        )


def register_udfs(spark) -> None:
    """Expose the surface to Spark SQL."""
    from pyspark.sql.functions import udtf as _udtf

    spark.udtf.register("chunk_text_udtf", ChunkTextUDTF)
    spark.udtf.register("split_fixed_udtf", _udtf(SplitFixedUDTF))
    spark.udf.register("weighted_mean_udaf", weighted_mean_udaf)
