"""Fuzz: the cascade is a total, deterministic function of arbitrary bytes
— never raises, never emits invalid UTF-8, always caps sizes."""

from hypothesis import given, settings
from hypothesis import strategies as st

from jarvis_ocr_service_spark.config import MAX_REASON_CHARS, MAX_TEXT_BYTES
from jarvis_ocr_service_spark.operators.cascade import (
    PDF_MODE_PARSE,
    PDF_MODE_REJECT,
    extract_document,
)

payloads = st.one_of(
    st.binary(max_size=400),
    # html-ish junk
    st.text(alphabet=list("<>/ab c='\"\n&;!-"), max_size=300).map(
        lambda t: b"<" + t.encode()
    ),
    # pdf-ish junk
    st.binary(max_size=200).map(lambda b: b"%PDF-" + b),
    # png-ish junk
    st.binary(max_size=120).map(lambda b: b"\x89PNG\r\n\x1a\n" + b),
)
pdf_modes = st.sampled_from([PDF_MODE_PARSE, PDF_MODE_REJECT])


@given(payloads, st.sampled_from(["en", "fr", "zz", ""]), pdf_modes)
@settings(max_examples=300, deadline=None)
def test_total_deterministic_and_bounded(payload, lang, pdf_mode):
    r1 = extract_document(payload, lang, pdf_mode=pdf_mode)
    r2 = extract_document(payload, lang, pdf_mode=pdf_mode)
    assert r1 == r2  # deterministic
    r1["text"].encode("utf-8")  # valid unicode
    assert r1["text_len"] <= MAX_TEXT_BYTES
    assert r1["text_len"] == len(r1["text"].encode("utf-8"))
    if r1["validation_reason"] is not None:
        assert len(r1["validation_reason"]) <= MAX_REASON_CHARS
    if r1["error_message"] is not None:
        assert len(r1["error_message"]) <= MAX_REASON_CHARS
    assert 0.0 <= r1["confidence"] <= 1.0
    assert (r1["error_code"] is None) == r1["is_valid"] or not r1["is_valid"]
    for s, e, _ in r1["spans"]:
        assert 0 <= s <= e <= len(r1["text"])


@given(payloads, pdf_modes)
@settings(max_examples=120, deadline=None)
def test_error_rows_never_carry_text(payload, pdf_mode):
    """No error code the cascade emits is retryable, so the engine keeps
    no retry loop; Spark task retries cover executor transients."""
    r = extract_document(payload, "en", pdf_mode=pdf_mode)
    if not r["is_valid"]:
        assert r["text"] == "" and r["text_len"] == 0
        assert r["error_code"] in {
            "image_not_found",
            "ocr_no_valid_output",
            "unsupported_media",
        }
