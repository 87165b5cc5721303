"""Minimal deterministic PDF text extraction.

The reference *rejects* PDFs in v1 (``error_code='unsupported_media'``,
/root/reference/app/image_resolver.py:44-46, worker.py:82-141); its north
star adds a PDF/layout parse branch. This module implements both:

  * ``extract_pdf_text(payload)`` — a from-scratch parser for the subset of
    PDF used by uncompressed text-bearing documents: scans content streams
    for ``BT .. ET`` text objects, extracts ``(string) Tj`` / ``TJ`` show
    operators with PDF string-escape handling. ``Td``/``Tm`` positions are
    not read: no entry point consumes layout anchors.
  * the v1-compat *reject* mode lives in the pipeline (pdf_mode="reject").

Real-world compressed PDFs (FlateDecode streams) are decompressed with
stdlib zlib when the stream dictionary declares it; anything beyond that
subset yields whatever text objects were parseable — never an exception
(per-row failure isolation, reference worker.py:248-264 P8).
"""

from __future__ import annotations

import re
import zlib
from typing import List, Tuple

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)(?:\r?\n)?endstream", re.DOTALL)
_FLATE_HINT_RE = re.compile(rb"/Filter\s*(?:\[[^\]]*)?/FlateDecode")
_BT_ET_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
# (string) Tj  |  [(s1) -250 (s2)] TJ — strings with \-escapes.
_PDF_STRING = rb"\(((?:\\.|[^\\()])*)\)"
_TJ_RE = re.compile(_PDF_STRING + rb"\s*Tj")
_TJARR_RE = re.compile(rb"\[((?:[^\[\]\\]|\\.)*?)\]\s*TJ")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal escape \ddd (1-3 digits)
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 1  # lone backslash: drop (line continuation)
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def _content_chunks(payload: bytes) -> List[bytes]:
    chunks = []
    for m in _STREAM_RE.finditer(payload):
        data = m.group(1)
        # Inflate when the preceding object dictionary declares FlateDecode.
        head = payload[max(0, m.start() - 512) : m.start()]
        if _FLATE_HINT_RE.search(head):
            try:
                data = zlib.decompress(data)
            except Exception:
                continue
        chunks.append(data)
    return chunks or [payload]  # tolerate stream-less minimal PDFs


def extract_pdf_text(payload: bytes) -> Tuple[str, List[Tuple[int, int, str]]]:
    """Extract text lines from a PDF payload.

    Returns (text, spans); one span per text-show line, tag ``line``.
    """
    lines: List[str] = []
    for chunk in _content_chunks(payload):
        for bt in _BT_ET_RE.finditer(chunk):
            body = bt.group(1)
            pieces: List[Tuple[int, str]] = []
            for m in _TJ_RE.finditer(body):
                pieces.append((m.start(), _unescape(m.group(1))))
            for m in _TJARR_RE.finditer(body):
                parts = [
                    _unescape(s.group(1))
                    for s in re.finditer(_PDF_STRING, m.group(1))
                ]
                pieces.append((m.start(), "".join(parts)))
            pieces.sort(key=lambda p: p[0])
            lines.extend(t for _, t in pieces if t.strip())
    spans: List[Tuple[int, int, str]] = []
    pos = 0
    out: List[str] = []
    for t in lines:
        t = t.strip()
        if not t:
            continue
        if out:
            pos += 1
        spans.append((pos, pos + len(t), "line"))
        out.append(t)
        pos += len(t)
    return "\n".join(out), spans


# ---------------------------------------------------------------------------
# Deterministic PDF *builder* — used by the synthetic pages source and the
# tests (mirrors how the reference builds its PNG fixture chunk-by-chunk,
# tests/conftest.py:35-58: hand-constructed minimal valid binary).
# ---------------------------------------------------------------------------

def build_minimal_pdf(lines: List[str]) -> bytes:
    """Build a minimal single-page text PDF containing ``lines``."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content_parts = ["BT /F1 12 Tf 72 720 Td 14 TL"]
    for i, line in enumerate(lines):
        if i:
            content_parts.append("T*")
        content_parts.append(f"({esc(line)}) Tj")
    content_parts.append("ET")
    content = " ".join(content_parts).encode("latin-1", "replace")

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)
