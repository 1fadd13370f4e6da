"""Real-library smoke tests for the three env-gated stub seams
(VERDICT r2 task 5): PyMuPDF PDF decode, sentence-transformers embedding,
PIL image decode, soundfile audio decode.

Every test importorskips its library — in this container they all skip —
so coverage of the REAL legs becomes automatic the moment the container
gains the libraries, with no code change. The fake/stub side of each seam
is covered by the existing suites (test_pdf_source, test_qa_pipeline,
test_udf_surface / multimodal tests).
"""

from __future__ import annotations

import pytest

from data_engineering_1_spark.multimodal.decode import (
    _decode_audio,
    _decode_image,
)
from data_engineering_1_spark.sources.pdf import decode_pages


def test_pymupdf_real_pdf_decode():
    """S2 real leg (reference src/pdf_extractor.py:11-23): a genuine PDF
    decodes into per-page layout blocks, not the plain-text fallback."""
    fitz = pytest.importorskip("fitz")
    doc = fitz.open()
    page = doc.new_page()
    page.insert_text((72, 72), "Hello layout world. " * 10)
    content = doc.tobytes()
    doc.close()
    assert content[:5] == b"%PDF-"

    pages = decode_pages(content, "synthetic.pdf")
    assert len(pages) == 1
    assert pages[0]["blocks"], "real PDF must yield layout blocks"
    assert "Hello layout world" in pages[0]["raw"]


def test_sentence_transformer_real_embedder(spark):
    """E1 real leg (reference src/vector_store.py:13,92-94): the MiniLM
    encoder as an Arrow-batched iterator pandas UDF."""
    pytest.importorskip("sentence_transformers")
    from data_engineering_1_spark.functions.embedding import get_embedder

    embed = get_embedder()  # picks the model when it imports
    df = spark.createDataFrame(
        [("数据工程",), ("data engineering",), ("",)], ["text"]
    ).withColumn("emb", embed("text"))
    try:
        rows = df.collect()
    except Exception as exc:  # model weights need a network download
        pytest.skip(f"model unavailable in this environment: {exc}")
    assert all(len(r["emb"]) == 384 for r in rows)


_PNG_1x1_WHITE = bytes.fromhex(
    "89504e470d0a1a0a0000000d4948445200000001000000010802000000907753"
    "de0000000c4944415408d763f8ffff3f0005fe02fea7356c520000000049454e"
    "44ae426082"
)


def test_pil_real_image_decode():
    """Multimodal real leg: PIL decodes an actual 1x1 white PNG."""
    pytest.importorskip("PIL")
    w, h, luma, decoder = _decode_image(_PNG_1x1_WHITE)
    assert decoder == "pillow"
    assert (w, h) == (1, 1)
    assert luma == 255.0


def test_soundfile_real_audio_decode():
    """Multimodal real leg: soundfile decodes a stdlib-generated WAV with
    the exact sample count/rate and a full-scale-square-wave RMS of ~1."""
    pytest.importorskip("soundfile")
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        frames = b"".join(
            struct.pack("<h", 32767 if i % 2 else -32768) for i in range(1600)
        )
        w.writeframes(frames)
    rate, n, rms, decoder = _decode_audio(buf.getvalue())
    assert decoder == "soundfile"
    assert rate == 16000
    assert n == 1600
    assert rms == pytest.approx(1.0, rel=1e-3)
