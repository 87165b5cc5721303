"""Image branch: typed metadata decode + OCR tier gating.

The container has no OCR engine and no imaging libraries, so true
pixel-level OCR is gated behind an import-try (exactly the reference's
``is_available()`` pattern — a provider whose backend is missing is
silently skipped in the tier cascade, /root/reference/worker.py:159-161).
What *is* real and tested here is the Spark-side plumbing the multimodal
path needs:

  * :func:`decode_png_meta` — from-scratch PNG IHDR parse (width, height,
    bit depth, color type) over the binary column; deterministic, stdlib
    only. The reference's own test fixture is a hand-built minimal PNG
    (tests/conftest.py:35-58), which this decodes.
  * :func:`ocr_image` — the tier entry point; returns text when a real OCR
    backend is importable, else raises :class:`OcrUnavailable` so the
    cascade skips the tier (never fails the task).
"""

from __future__ import annotations

import struct
from typing import Optional, Tuple


class OcrUnavailable(Exception):
    """No OCR backend importable in this environment."""


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def decode_png_meta(payload: bytes) -> Optional[Tuple[int, int, int, int]]:
    """Parse PNG IHDR -> (width, height, bit_depth, color_type); None if
    not a well-formed PNG header."""
    if not payload.startswith(_PNG_MAGIC) or len(payload) < 33:
        return None
    length, ctype = struct.unpack(">I4s", payload[8:16])
    if ctype != b"IHDR" or length != 13:
        return None
    w, h, bit_depth, color_type = struct.unpack(">IIBB", payload[16:26])
    return int(w), int(h), int(bit_depth), int(color_type)


def image_format(payload: bytes) -> Optional[str]:
    if payload.startswith(_PNG_MAGIC):
        return "png"
    if payload.startswith(_JPEG_MAGIC):
        return "jpeg"
    if payload.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    return None


def _try_import_ocr():
    try:  # pragma: no cover - not installed in this environment
        import PIL.Image  # noqa: F401
        import pytesseract  # noqa: F401

        return True
    except ImportError:
        return False


_OCR_AVAILABLE: Optional[bool] = None


def ocr_available() -> bool:
    global _OCR_AVAILABLE
    if _OCR_AVAILABLE is None:
        _OCR_AVAILABLE = _try_import_ocr()
    return _OCR_AVAILABLE


def ocr_image(payload: bytes, lang: str = "en") -> str:
    """OCR an image payload. Raises OcrUnavailable when no backend exists
    (=> the tier is skipped, like an unavailable reference provider)."""
    if not ocr_available():
        raise OcrUnavailable("no OCR backend (PIL/pytesseract) importable")
    # pragma: no cover — exercised only where a backend is installed.
    import io

    import PIL.Image
    import pytesseract

    img = PIL.Image.open(io.BytesIO(payload))
    return pytesseract.image_to_string(img, lang=_tesseract_lang(lang))


# 2-letter -> tesseract 3-letter hint map (reference
# tesseract_provider.py:42-46); the image tier maps one lang per row.
_TESS_LANG = {"en": "eng", "fr": "fra", "de": "deu", "es": "spa", "it": "ita"}


def _tesseract_lang(lang: str) -> str:
    return _TESS_LANG.get(lang.lower(), lang.lower())

