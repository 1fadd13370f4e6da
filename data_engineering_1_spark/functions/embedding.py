"""Text embedding UDFs (SURVEY.md §2.4 E1).

The reference embeds with sentence-transformers
(``model.encode(texts).tolist()``, src/vector_store.py:13,92-94 — model
``paraphrase-multilingual-MiniLM-L12-v2``, 384-d). Spark-first shape: an
Arrow-batched pandas UDF so each executor encodes whole columnar batches
— never a row-at-a-time Python UDF.

Two implementations behind one factory:

  * ``hash_embedder`` — a deterministic seeded bag-of-hashed-words
    embedding (pure numpy). Not a semantic model; it exists so the full
    distributed pipeline (embed -> store -> top-k search) is testable and
    reproducible with no model download. Identical text -> identical
    vector, cosine equality preserved for identical token multisets.
  * ``sentence_transformer_embedder`` — the real model, gated behind an
    import-try (the library is not in this container); loads once per
    executor inside the iterator UDF, mirroring the reference's
    load-once-then-batch pattern (src/vector_store.py:52-79 retry wrapper).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64  # matches the fixture embeddings table (TESTDATA.md)
_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


_FNV_OFFSET = 14695981039346656037
_FNV_PRIME = 1099511628211
_MASK64 = 0xFFFFFFFFFFFFFFFF


def _token_hash(tok: str, seed: int) -> int:
    """64-bit FNV-1a over the token's UTF-8 bytes, from the seeded offset
    basis (Python ints masked to 64 bits: the same values as unsigned
    64-bit arithmetic, without a numpy scalar per byte)."""
    h = (_FNV_OFFSET + seed) & _MASK64
    for b in tok.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def hash_embed_texts(texts: pd.Series, dim: int = DEFAULT_DIM, seed: int = 42) -> list[list[float]]:
    """Vectorized deterministic embedding for a batch of texts.

    Each token hashes (FNV-1a over the seed+token bytes) to a bucket and a
    sign; the text's vector is the L2-normalized signed bucket histogram —
    the classic hashing-trick encoder, stable across processes (no
    PYTHONHASHSEED dependence).
    """
    out: list[list[float]] = []
    for text in texts:
        vec = np.zeros(dim, dtype=np.float64)
        for tok in _TOKEN_RE.findall((text or "").lower()):
            h = _token_hash(tok, seed)
            vec[h % dim] += 1.0 if (h >> 32) & 1 else -1.0
        n = float(np.linalg.norm(vec))
        if n > 0:
            vec /= n
        out.append(vec.tolist())
    return out


def hash_embedder(dim: int = DEFAULT_DIM, seed: int = 42):
    """pandas UDF: STRING -> ARRAY<FLOAT> via the hashing-trick encoder."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        return pd.Series(hash_embed_texts(texts, dim=dim, seed=seed))

    return embed


def sentence_transformer_embedder(
    model_name: str = "paraphrase-multilingual-MiniLM-L12-v2",
):
    """The reference's real embedder (src/vector_store.py:13,92-94) as an
    iterator pandas UDF: the model loads once per executor python worker,
    then encodes every Arrow batch. Raises NotImplementedError at *plan
    build time* when sentence-transformers is absent, so callers can fall
    back to ``hash_embedder`` explicitly."""
    try:
        import sentence_transformers  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "sentence-transformers is not installed in this environment; "
            "use hash_embedder() for deterministic tests"
        ) from exc

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from sentence_transformers import SentenceTransformer

        model = SentenceTransformer(model_name)
        for texts in batches:
            encoded = model.encode(list(texts.fillna("")))
            yield pd.Series([[float(x) for x in row] for row in encoded])

    return embed


def get_embedder(dim: int = DEFAULT_DIM, seed: int = 42) -> Callable:
    """Best-available embedder: the real model when importable, else the
    deterministic stub."""
    try:
        return sentence_transformer_embedder()
    except NotImplementedError:
        return hash_embedder(dim=dim, seed=seed)
