"""normalize_text / truncate_text: reference edge cases + equivalence
properties between the scalar forms, their fast paths, and the SQL form.

Edge cases mirror the reference's own unit tests
(/root/reference/tests/test_text_utils.py — behaviourally replayed, not
copied)."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jarvis_ocr_service_spark.operators.textops import (
    _needs_line_pass,
    normalize_text,
    normalize_text_sql,
    text_len_bytes,
    truncate_text,
    truncate_with_len,
)


class TestNormalize:
    def test_empty(self):
        assert normalize_text("") == ""
        assert normalize_text(None) == ""

    def test_null_bytes_stripped(self):
        assert normalize_text("he\x00llo") == "hello"

    def test_crlf_to_lf(self):
        assert normalize_text("a\r\nb\rc") == "a\nb\nc"

    def test_collapse_3plus_newlines_to_2(self):
        assert normalize_text("a\n\n\nb") == "a\n\nb"
        assert normalize_text("a\n\n\n\n\nb") == "a\n\nb"
        # exactly 2 newlines are preserved
        assert normalize_text("a\n\nb") == "a\n\nb"

    def test_collapse_spaces_within_line(self):
        assert normalize_text("a    b") == "a b"

    def test_per_line_strip(self):
        assert normalize_text("  a  \n   b c   ") == "a\nb c"

    def test_final_strip(self):
        assert normalize_text("\n\n  x  \n\n") == "x"

    def test_crlf_runs_collapse_after_conversion(self):
        # \r\n\r\n\r\n -> \n\n\n -> \n\n
        assert normalize_text("a\r\n\r\n\r\nb") == "a\n\nb"


class TestTruncate:
    def test_no_truncation_needed(self):
        assert truncate_text("hello", 100) == ("hello", False)

    def test_exact_boundary(self):
        assert truncate_text("abcde", 5) == ("abcde", False)

    def test_ascii_cut(self):
        assert truncate_text("abcdef", 3) == ("abc", True)

    def test_multibyte_boundary_backs_off(self):
        # 'é' = 2 bytes; cutting at 3 bytes would split the second é
        text = "ééé"
        out, flag = truncate_text(text, 3)
        assert out == "é" and flag is True
        assert len(out.encode("utf-8")) <= 3

    def test_emoji_4byte_boundary(self):
        text = "a😀"  # 1 + 4 bytes
        for cut in (2, 3, 4):
            out, flag = truncate_text(text, cut)
            assert out == "a" and flag

    def test_never_invalid_utf8(self):
        text = "héllo wörld 😀" * 10
        for n in range(0, len(text.encode("utf-8")) + 1):
            out, _ = truncate_text(text, n)
            out.encode("utf-8").decode("utf-8")  # must not raise
            assert len(out.encode("utf-8")) <= n

    def test_text_len_bytes(self):
        assert text_len_bytes("é") == 2
        assert text_len_bytes("a") == 1


# ---------------------------------------------------------------------------
# Property: fast paths == their slow references on arbitrary text
# ---------------------------------------------------------------------------

_RE_LINE_PASS = re.compile(r"[^\S\n ]|  | \n|\n ")
_ws_heavy = st.text(
    alphabet=st.sampled_from(
        list("ab \n\t\r\x0b\x0c\x1c\x1d\x1e\x1fé") + ["\x85", "\xa0", "\u2028"]
    ),
    max_size=40,
)


@given(st.one_of(st.text(max_size=80), _ws_heavy))
@settings(max_examples=400, deadline=None)
def test_needs_line_pass_matches_regex(text):
    """normalize_text's skip predicate is the alternation regex its comment
    names, decomposed into substring checks."""
    assert _needs_line_pass(text) == (_RE_LINE_PASS.search(text) is not None)


@given(st.text(max_size=60), st.integers(1, 40))
@settings(max_examples=60, deadline=None)
def test_truncate_with_len_equals_scalar(text, max_bytes):
    """The cascade's single-encode truncate == truncate_text + byte length."""
    eo, ef = truncate_text(text, max_bytes)
    assert truncate_with_len(text, max_bytes) == (eo, ef, text_len_bytes(eo))


# ---------------------------------------------------------------------------
# Property: scalar == Spark SQL column form (plain-whitespace domain: Spark
# trim only strips ASCII spaces — see normalize_text_col docstring)
# ---------------------------------------------------------------------------

_plain = st.text(
    alphabet=st.sampled_from(list("abcXYZ 09éß😀\n\r") + ["\x00"]), max_size=60
)


@pytest.mark.usefixtures("spark")
@given(st.lists(_plain, min_size=1, max_size=24))
@settings(max_examples=12, deadline=None)
def test_normalize_sql_equals_scalar(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.selectExpr(normalize_text_sql("t") + " as n").collect()
    assert [r.n for r in rows] == [normalize_text(t) for t in texts]
