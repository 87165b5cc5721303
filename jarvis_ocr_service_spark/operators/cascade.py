"""The per-document tier cascade — the engine's core semantic.

Field-for-field reimplementation of the reference's per-image pipeline
(/root/reference/worker.py:54-264, U9 in SURVEY.md §2.6):

    dispatch -> for tier in cost order:
        extract -> normalize -> validate -> (first valid wins:) truncate
    -> result row;  all tiers failed -> ocr_no_valid_output row.

This module is *pure Python over one document* — it is simultaneously
(a) the pytest golden oracle and (b) the body of the Arrow-batched Spark
stage (operators/udfs.py), which is what makes byte-identical output per
url a construction-time property instead of a testing aspiration.

Differences from the reference, by design (SURVEY.md §7):
  * tiers are local pure functions, not remote services — so the async
    validation state machine (continue_processing.py) flattens away;
  * PDF handling is a mode: ``reject`` reproduces v1 semantics
    (unsupported_media), ``parse`` routes to the layout tier (north rule);
  * per-row failure isolation: a tier exception becomes an error *value*
    (never fails the Spark task) — reference worker.py:231-239.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from jarvis_ocr_service_spark.config import (
    AVAILABLE_TIERS,
    DEFAULT_TIER_ORDER,
    ERR_NO_VALID_OUTPUT,
    ERR_NOT_FOUND,
    ERR_UNSUPPORTED_MEDIA,
    MAX_REASON_CHARS,
    MAX_TEXT_BYTES,
    MSG_ALL_TIERS_FAILED,
    MSG_EMPTY_PAYLOAD,
    MSG_PDF_UNSUPPORTED,
)
from jarvis_ocr_service_spark.operators import dispatch
from jarvis_ocr_service_spark.operators.extract_html import (
    extract_main_blocks,
    extract_raw_blocks,
)
from jarvis_ocr_service_spark.operators.extract_image import OcrUnavailable, ocr_image
from jarvis_ocr_service_spark.operators.extract_pdf import extract_pdf_text
from jarvis_ocr_service_spark.operators.textops import (
    normalize_text,
    truncate_with_len,
)
from jarvis_ocr_service_spark.operators.validate import validate_text

Span = Tuple[int, int, str]

PDF_MODE_REJECT = "reject"  # reference v1 semantics
PDF_MODE_PARSE = "parse"  # north-rule layout branch (default)

# The cost-ordered cascade over the tiers this engine implements
# (reference semantics: app/tier_mapping.py:29-39).
TIER_ORDER = [t for t in DEFAULT_TIER_ORDER if t in AVAILABLE_TIERS]


def _tier_extract(tier: str, kind: str, payload: bytes, lang: str, ctx: Dict):
    """Run one tier on one payload. Returns (text, spans) or None when the
    tier is not applicable/available for this content kind (-> skipped,
    like an unavailable reference provider).

    ``ctx`` is a per-document scratch cache: the DOM is parsed once and
    shared between the HTML tiers (tier-2 re-scores the same blocks it
    would re-parse identically — pure functions make the reuse exact, and
    escalated rows get ~2x cheaper).
    """
    if kind == dispatch.KIND_HTML:
        if "blocks" not in ctx:
            from jarvis_ocr_service_spark.operators.charset import decode_payload
            from jarvis_ocr_service_spark.operators.extract_html import parse_blocks

            ctx["blocks"] = parse_blocks(decode_payload(payload))
        if tier == "tesseract":
            return extract_raw_blocks(ctx["blocks"])
        if tier == "easyocr":
            return extract_main_blocks(ctx["blocks"])
        return None
    if kind == dispatch.KIND_TEXT:
        if tier == "tesseract":
            from jarvis_ocr_service_spark.operators.charset import decode_payload

            text = decode_payload(payload)
            return text, [(0, len(text), "text")] if text else []
        return None
    if kind == dispatch.KIND_PDF:
        if tier == "paddleocr":
            return extract_pdf_text(payload)
        return None
    if kind == dispatch.KIND_IMAGE:
        if tier == "tesseract":
            text = ocr_image(payload, lang)  # raises OcrUnavailable here
            return text, [(0, len(text), "ocr")] if text else []
        return None
    return None


def _error_result(
    kind: str,
    lang: str,
    code: str,
    message: str,
    tier: str = "unknown",
    reason: Optional[str] = None,
) -> Dict:
    """Error row shape — field-for-field the reference's failure dicts
    (worker.py:84-141, 248-264)."""
    return {
        "content_kind": kind,
        "text": "",
        "truncated": False,
        "language": lang,
        "confidence": 0.0,
        "text_len": 0,
        "is_valid": False,
        "tier": tier,
        "validation_reason": (reason or message)[:MAX_REASON_CHARS],
        "error_code": code,
        "error_message": message[:MAX_REASON_CHARS],
        "spans": [],
    }


def extract_document(
    payload: Optional[bytes], lang: str, pdf_mode: str = PDF_MODE_PARSE
) -> Dict:
    """Extract one document through the tier cascade. Total function —
    returns an error *row* on bad input, never raises.

    Tiers run in ``TIER_ORDER``; the first whose normalized output
    validates wins and is truncated to ``MAX_TEXT_BYTES``. ``pdf_mode``
    picks the PDF branch (``parse`` runs the layout tier, ``reject``
    returns the reference v1 ``unsupported_media`` row).
    """
    kind = dispatch.sniff_kind(payload or b"")

    if kind == dispatch.KIND_EMPTY:
        return _error_result(kind, lang, ERR_NOT_FOUND, MSG_EMPTY_PAYLOAD)

    if kind == dispatch.KIND_PDF and pdf_mode == PDF_MODE_REJECT:
        # Reference v1: PDFs rejected before any tier runs
        # (worker.py:123-141) with this exact reason/message.
        return _error_result(
            kind, lang, ERR_UNSUPPORTED_MEDIA, MSG_PDF_UNSUPPORTED,
            reason=MSG_PDF_UNSUPPORTED,
        )

    last_tier: Optional[str] = None
    last_error: Optional[str] = None
    ctx: Dict = {}
    for tier in TIER_ORDER:
        try:
            extracted = _tier_extract(tier, kind, payload, lang, ctx)
        except OcrUnavailable:
            continue  # provider not available -> skip silently (worker.py:159-161)
        except Exception as e:  # tier crash -> try next (worker.py:231-239)
            last_tier = tier
            last_error = f"Tier error: {str(e)[:MAX_REASON_CHARS]}"
            continue
        if extracted is None:
            continue  # tier not applicable to this content kind

        text, spans = extracted
        if kind == dispatch.KIND_HTML:
            # _assemble output is normalize_text-stable by construction
            # (each piece normalized + stripped, single-'\n' joins — the
            # invariant extract_html._assemble documents and
            # tests/test_extract_html.py pins), so the re-normalize pass
            # is an identity here: skip the full-text scan.
            norm = text
        else:
            norm = normalize_text(text)
            if norm != text:
                # normalization moved characters -> raw-text offsets are
                # stale. Re-span on the normalized text: one span per line.
                spans = _line_spans(norm, spans[0][2] if spans else "text")
        is_valid, confidence, reason = validate_text(norm)
        if is_valid:
            final_text, was_truncated, n_bytes = truncate_with_len(
                norm, MAX_TEXT_BYTES
            )
            if was_truncated:
                spans = _clip_spans(spans, len(final_text))
            return {
                "content_kind": kind,
                "text": final_text,
                "truncated": was_truncated,
                "language": lang,
                "confidence": confidence,
                "text_len": n_bytes,
                "is_valid": True,
                "tier": tier,
                "validation_reason": reason[:MAX_REASON_CHARS] if reason else None,
                "error_code": None,
                "error_message": None,
                "spans": spans,
            }
        last_tier = tier
        last_error = reason[:MAX_REASON_CHARS] if reason else "Invalid output"

    # All tiers failed (worker.py:241-264).
    validation_reason = last_error or MSG_ALL_TIERS_FAILED
    return _error_result(
        kind,
        lang,
        ERR_NO_VALID_OUTPUT,
        validation_reason,
        tier=last_tier or "unknown",
        reason=validation_reason,
    )


def _line_spans(text: str, tag: str) -> List[Span]:
    spans: List[Span] = []
    pos = 0
    for line in text.split("\n"):
        if line:
            spans.append((pos, pos + len(line), tag))
        pos += len(line) + 1
    return spans


def _clip_spans(spans: List[Span], text_len: int) -> List[Span]:
    """Clip span offsets to the truncated text length (offsets are into the
    final stored text)."""
    out: List[Span] = []
    for start, end, tag in spans:
        if start >= text_len:
            break
        out.append((start, min(end, text_len), tag))
    return out
