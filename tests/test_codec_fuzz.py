"""Shared single-byte mutation-fuzz containment audit (VERDICT r6 item 2).

Every from-scratch codec parser must raise ONLY its module's typed error
on corrupted input: the Spark UDF wrappers (operators/extract.py,
operators/multimodal.py) catch exactly those types, so any bare builtin
exception escaping a parser kills the task — the class of bug the DOCX
``ValueError: negative seek value`` escape (fixed this round) belonged
to. Deterministic sweep: ~100 evenly spaced byte positions per fixture,
several replacement values each, across all seven container formats.

The text parsers behind the extractor go further: ``_extract_one`` runs
inside the Arrow worker with no try/except at all, so ANY exception is
a dead task. Their sweep mutates every character of the fixture
generator's payloads of each kind and asserts nothing raises.
"""

from __future__ import annotations

import numpy as np
import pytest

from mistral_ocr_app_spark.fixtures import transcripts as tr
from mistral_ocr_app_spark.functions import avi, docx, jpeg, mp4, pdf, png
from mistral_ocr_app_spark.operators import multimodal as mm
from mistral_ocr_app_spark.operators.extract import _extract_one


def _cases():
    return {
        "png": (
            mm.encode_png(16, 12, mm._img_pixels(3, 16, 12), lambda y: y % 5),
            png.decode_png,
            png.PngError,
        ),
        "jpeg": (
            mm.encode_jpeg(16, 8, bytes([120]) * 128),
            jpeg.decode_jpeg,
            jpeg.JpegError,
        ),
        "avi": (
            mm.build_avi_mjpeg(
                [mm.encode_jpeg(16, 8, bytes([50]) * 128)] * 3, 16, 8
            ),
            avi.parse_avi_mjpeg,
            avi.AviError,
        ),
        "mp4": (mm._mp4_fixture(4), mp4.parse_mp4_sample_table, mp4.Mp4Error),
        "docx": (
            docx.build_docx([["hello", "world"], ["x", "y"]]),
            docx.parse_docx_spans,
            docx.DocxError,
        ),
        "pdf": (
            pdf.build_pdf([[{"text": "hello world", "x0": 10, "y0": 50}]]),
            pdf.parse_pdf_spans,
            pdf.PdfError,
        ),
        "wav": (
            mm.build_wav(b"\x01\x02" * 64),
            png.parse_wav_header,
            (png.WavError, png.PngError),
        ),
    }


@pytest.mark.parametrize("fmt", sorted(_cases()))
def test_single_byte_mutation_raises_only_typed_error(fmt):
    blob, parse, typed = _cases()[fmt]
    n = len(blob)
    step = max(1, n // 100)
    leaks = []
    for pos in range(0, n, step):
        for val in (0, 0x7F, 0xFF, blob[pos] ^ 0x40):
            if blob[pos] == val:
                continue
            m = bytearray(blob)
            m[pos] = val
            try:
                parse(bytes(m))
            except typed:
                pass  # the containment contract
            except Exception as e:  # noqa: BLE001 — the point of the test
                leaks.append((pos, val, type(e).__name__, str(e)[:80]))
    assert not leaks, f"{fmt}: bare exceptions escaped: {leaks[:5]}"


def test_truncation_raises_only_typed_error():
    """Prefix truncation at every length bucket — the other common
    corruption shape (short reads, interrupted uploads)."""
    for fmt, (blob, parse, typed) in _cases().items():
        for cut in range(0, len(blob), max(1, len(blob) // 50)):
            try:
                parse(blob[:cut])
            except typed:
                pass
            except Exception as e:  # noqa: BLE001
                raise AssertionError(
                    f"{fmt}: truncation at {cut} escaped with "
                    f"{type(e).__name__}: {e}"
                ) from e


# payload kind → (fixture generator, payloads per kind); spans travel in
# the ``tool`` column, every other kind in ``text``
_TEXT_PAYLOADS = {
    "markdown": (tr._markdown_payload, 4),
    "html": (lambda rng: tr._html_payload(rng)[0], 2),
    "doc": (tr._doc_payload, 2),
    "base64": (tr._base64_payload, 12),
    "spans": (tr._span_payload, 4),
}
# structural characters of every payload grammar, a NUL and a non-ASCII
# letter
_TEXT_REPLACEMENTS = '\x00"{}[]()<>!=%,:\\Я'


@pytest.mark.parametrize("kind", sorted(_TEXT_PAYLOADS))
def test_extract_one_single_char_mutation_never_raises(kind):
    make, n = _TEXT_PAYLOADS[kind]
    rng = np.random.RandomState(11)
    leaks = []
    for payload in (make(rng) for _ in range(n)):
        for pos, ch in enumerate(payload):
            for rep in _TEXT_REPLACEMENTS:
                if rep == ch:
                    continue
                m = payload[:pos] + rep + payload[pos + 1:]
                text, tool = (None, m) if kind == "spans" else (m, None)
                try:
                    _extract_one(text, tool, pos % 7)
                except Exception as e:  # noqa: BLE001 — the point of the test
                    leaks.append((pos, rep, type(e).__name__, str(e)[:80]))
    assert not leaks, f"{kind}: exceptions escaped: {leaks[:5]}"
