"""Vector math over ``array<float>`` columns — pure Spark higher-order
functions, no UDFs.

This is the engine's replacement for the reference's Chroma cosine space
(src/vector_store.py:85-88 ``{"hnsw:space": "cosine"}`` and the similarity
conversion at :172 ``similarity = 1 - distance``): an exact cosine kernel
computed JVM-side with ``zip_with`` + ``aggregate``, a deliberate,
documented semantic upgrade from approximate HNSW to exact scoring
(SURVEY.md §2.4 E2).

Determinism: elements are cast to double and folded sequentially
(``aggregate`` is a left fold), matching DuckDB's list_sum over a
list_transform in element order, so oracle comparisons are bit-stable.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def vec_dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision."""
    products = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def vec_norm(a: Column | str) -> Column:
    """L2 norm (sqrt is IEEE-correctly-rounded -> engine-portable)."""
    return F.sqrt(vec_dot(a, a))


def vec_literal(vec: Sequence[float]) -> Column:
    """A driver-held vector as ONE ``array<float>`` plan literal. numpy's
    float32 rounding equals ``Double.toFloat`` (the conversion a
    Python-built ``array<float>`` DataFrame applies), so the values equal
    a one-row DataFrame's without a Python-built relation in the plan."""
    return F.lit(np.asarray(vec, dtype=np.float32))


def literal_norm(vec: Sequence[float]) -> float:
    """``vec_norm`` of ``vec_literal(vec)``, folded on the driver: the
    same float32 elements widened to double, summed left to right from
    0.0, then a correctly rounded sqrt, so the double is bit-identical to
    the engine's per-row value."""
    acc = 0.0
    for x in np.asarray(vec, dtype=np.float32).tolist():
        acc += x * x
    return math.sqrt(acc)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Exact cosine similarity; IEEE double division (a 0-norm raises
    DIVIDE_BY_ZERO under ANSI mode, Spark 4's default)."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """Chroma-style cosine distance; the reference converts back with
    ``similarity = 1 - distance`` (src/vector_store.py:172)."""
    return F.lit(1.0) - cosine_similarity(a, b)


# ---- DuckDB oracle twins (SQL fragments) ----

def o_dot(a: str, b: str) -> str:
    """Element-ordered dot product; mirrors vec_dot's fold order."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def o_norm(a: str) -> str:
    return f"sqrt({o_dot(a, a)})"


def o_cosine(a: str, b: str) -> str:
    return f"({o_dot(a, b)} / ({o_norm(a)} * {o_norm(b)}))"
