"""Deterministic validator: reference gates + heuristic behavior."""

from hypothesis import given, settings
from hypothesis import strategies as st

from jarvis_ocr_service_spark.config import GARBLED_WORD_MIN_LEN
from jarvis_ocr_service_spark.operators.validate import (
    _ASCII_LETTERS,
    _RE_GARBLED_TOKEN,
    _VOWELS,
    validate_text,
)


def test_min_chars_gate_exact_reference_semantics():
    # reference provider_manager.py:175-176 — <3 stripped chars
    for t in ("", "  ", "ab", " a b "[:3]):
        ok, conf, reason = validate_text(t)
        assert (ok, conf, reason) == (False, 0.0, "Text too short or empty")
    ok, _, _ = validate_text("abc")
    assert ok


def test_garbled_consonant_soup_rejected():
    ok, conf, reason = validate_text("xkcd qwrtz bcdfg hjklm npqrst vwxyz")
    assert not ok and conf == 0.0
    assert "Garbled" in reason


def test_readable_text_accepted():
    ok, conf, reason = validate_text(
        "The quick brown fox jumps over the lazy dog near the river bank."
    )
    assert ok and 0.0 < conf <= 1.0
    assert len(reason) <= 200


def test_navigation_link_farm_rejected():
    nav = "\n".join(f"Cat {k}" for k in range(20))
    ok, conf, reason = validate_text(nav)
    assert not ok
    assert "Navigation-like" in reason


def test_low_alpha_density_rejected():
    ok, _, reason = validate_text("1234 5678 9012 3456 7890 ---- ====")
    assert not ok


def test_confidence_clamped():
    for t in ("abc", "Hello world this is fine text."):
        _, conf, _ = validate_text(t)
        assert 0.0 <= conf <= 1.0


def test_reason_capped_200():
    ok, _, reason = validate_text("word " * 500)
    assert len(reason) <= 200


def test_unicode_text_not_garbled():
    # non-ASCII words are excluded from the vowel heuristic
    ok, _, _ = validate_text("héllo wörld ünd schön güt mañana séjour déjà vu")
    assert ok


def _any_garbled_word(text):
    """The per-word loop's rule, verbatim: an all-ASCII token with a
    letter, >= GARBLED_WORD_MIN_LEN chars and no vowel."""
    return any(
        w.isascii()
        and not _ASCII_LETTERS.isdisjoint(w)
        and len(w) >= GARBLED_WORD_MIN_LEN
        and _VOWELS.isdisjoint(w)
        for w in text.split()
    )


# Token characters: consonants, vowels, digits/punctuation, ASCII control
# characters (some are str.isspace(), most are not), non-ASCII letters and
# non-ASCII whitespace (NEL, NBSP, LINE SEPARATOR).
_TOKEN_CHARS = st.sampled_from(
    list("bcdfgxzBXZ" "aeiouyAY" "07_-.'") + [chr(c) for c in range(32)]
    + ["\x7f", "é", "ß", "ÿ", "ж", "\x85", "\xa0", "\u2028"]
)
_TOKENS = st.one_of(
    st.text(_TOKEN_CHARS, min_size=GARBLED_WORD_MIN_LEN - 1,
            max_size=GARBLED_WORD_MIN_LEN + 1),
    st.text(_TOKEN_CHARS, max_size=2 * GARBLED_WORD_MIN_LEN),
)
_SEPS = st.sampled_from([" ", "\n", "\t", "  ", "\x0b", "\x1c", "\x85"])


@given(st.lists(st.tuples(_TOKENS, _SEPS), max_size=8))
@settings(max_examples=400, deadline=None)
def test_garbled_regex_fast_path_matches_word_loop(parts):
    text = "".join(tok + sep for tok, sep in parts)
    fast_says_garbled = _RE_GARBLED_TOKEN.search(text) is not None
    assert fast_says_garbled == _any_garbled_word(text), repr(text)


def test_garbled_regex_fast_path_boundary_lengths():
    n = GARBLED_WORD_MIN_LEN
    for word, garbled in (("x" * (n - 1), False), ("x" * n, True),
                          ("x" * (n + 1), True), ("x" * (n - 1) + "é", False),
                          ("x" * n + "a", False), ("\x01" + "x" * n, True)):
        for text in (word, "ok " + word, word + "\n", "a\x85" + word):
            assert (_RE_GARBLED_TOKEN.search(text) is not None) == garbled \
                == _any_garbled_word(text), repr(text)
