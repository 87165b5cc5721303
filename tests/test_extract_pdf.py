"""Minimal PDF parse: builder round-trip, escapes, spans."""

from jarvis_ocr_service_spark.operators.extract_pdf import (
    build_minimal_pdf,
    extract_pdf_text,
)


def test_round_trip():
    lines = ["Hello world", "Second line of text", "Third"]
    pdf = build_minimal_pdf(lines)
    assert pdf.startswith(b"%PDF-")
    text, spans = extract_pdf_text(pdf)
    assert text == "\n".join(lines)
    assert [text[s:e] for s, e, _ in spans] == lines
    assert all(tag == "line" for _, _, tag in spans)


def test_escaped_parens_and_backslash():
    lines = [r"func(x) returns (a\b)", "plain"]
    text, _ = extract_pdf_text(build_minimal_pdf(lines))
    assert text.splitlines()[0] == r"func(x) returns (a\b)"


def test_empty_lines_skipped():
    text, spans = extract_pdf_text(build_minimal_pdf(["a", "", "  ", "b"]))
    assert text == "a\nb"
    assert len(spans) == 2


def test_garbage_never_raises():
    for junk in (b"%PDF-1.4 garbage no streams", b"%PDF-", b"%PDF-\x00\xff" * 100):
        text, spans = extract_pdf_text(junk)
        assert isinstance(text, str)


def test_flate_stream():
    import zlib

    content = b"BT (compressed text here) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj << /Filter /FlateDecode /Length 99 >>\nstream\n"
        + zlib.compress(content)
        + b"\nendstream\nendobj\n%%EOF"
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "compressed text here"
