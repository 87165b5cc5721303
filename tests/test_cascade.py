"""Per-document cascade semantics (pure-Python oracle level)."""

import pytest

from jarvis_ocr_service_spark.config import MAX_TEXT_BYTES
from jarvis_ocr_service_spark.operators.cascade import (
    PDF_MODE_REJECT,
    extract_document,
)
from jarvis_ocr_service_spark.operators.extract_pdf import build_minimal_pdf
from jarvis_ocr_service_spark.sources.pages import _PNG_BYTES


def test_clean_html_accepted_at_tier1():
    html = b"<html><body><article><p>A real paragraph of readable words for the validator to accept.</p></article></body></html>"
    r = extract_document(html, "en")
    assert r["is_valid"] and r["tier"] == "tesseract"
    assert r["error_code"] is None
    assert r["text_len"] == len(r["text"].encode("utf-8"))
    assert r["spans"] and r["spans"][0][2] == "article" or r["spans"]


def test_boilerplate_html_escalates_to_tier2():
    nav = "".join(f'<li><a href="/c{k}">Cat {k}</a></li>' for k in range(25))
    html = (
        "<html><body><nav><ul>" + nav + "</ul></nav><article>"
        "<p>Real content paragraph with plenty of readable words inside it.</p>"
        "<p>Another real paragraph with readable content for scoring well.</p>"
        "</article></body></html>"
    ).encode()
    r = extract_document(html, "en")
    assert r["is_valid"] and r["tier"] == "easyocr"
    assert "Cat 0" not in r["text"]
    assert "Real content paragraph" in r["text"]


def test_pdf_parse_mode():
    pdf = build_minimal_pdf(["Extracted line one of content", "And line two here"])
    r = extract_document(pdf, "en")
    assert r["is_valid"] and r["tier"] == "paddleocr"
    assert r["text"].splitlines()[0] == "Extracted line one of content"


def test_pdf_reject_mode_reference_v1():
    pdf = build_minimal_pdf(["anything"])
    r = extract_document(pdf, "en", pdf_mode=PDF_MODE_REJECT)
    assert r["error_code"] == "unsupported_media"
    assert r["error_message"] == "PDF files are not supported in v1"
    assert r["validation_reason"] == "PDF files are not supported in v1"
    assert r["tier"] == "unknown" and not r["is_valid"] and r["text"] == ""


def test_image_without_ocr_backend_all_tiers_skipped():
    r = extract_document(_PNG_BYTES, "en")
    assert r["error_code"] == "ocr_no_valid_output"
    assert r["tier"] == "unknown"  # no tier attempted -> reference last_tier None
    assert r["validation_reason"] == "All tiers failed validation"


def test_garbled_text_fails_with_last_tier():
    r = extract_document(b"xkcd qwrtz bcdfg hjklm npqrst wvxz brrr", "en")
    assert r["error_code"] == "ocr_no_valid_output"
    assert r["tier"] == "tesseract"  # the tier that attempted and rejected
    assert "Garbled" in r["validation_reason"]
    assert r["confidence"] == 0.0


def test_empty_payload():
    r = extract_document(b"", "en")
    assert r["error_code"] == "image_not_found"
    r2 = extract_document(None, "en")
    assert r2["error_code"] == "image_not_found"


def test_truncation_flag_and_byte_cap():
    big = ("word " * (MAX_TEXT_BYTES // 4)).encode()
    r = extract_document(big, "en")
    assert r["is_valid"] and r["truncated"]
    assert r["text_len"] <= MAX_TEXT_BYTES
    r["text"].encode("utf-8").decode("utf-8")


def test_total_function_on_junk():
    for junk in (b"\x00\xff\xfe", b"<" * 10000, bytes(range(256)) * 4):
        r = extract_document(junk, "en")
        assert isinstance(r["text"], str)


def test_spans_clipped_on_truncation():
    big = ("word " * (MAX_TEXT_BYTES // 4)).encode()
    r = extract_document(big, "en")
    for s, e, _ in r["spans"]:
        assert e <= len(r["text"])

