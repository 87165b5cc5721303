"""Deterministic text-validity scoring.

The reference validates each tier's output with a remote LLM call
(`/root/reference/app/provider_manager.py:165-249`): "valid readable
content vs garbled nonsense", returning ``(is_valid, confidence,
reason<=200)``, failing *open* (assume valid) when the validator is
unreachable. A remote nondeterministic call cannot sit in a reproducible
100-TB pipeline, so this engine replaces it with a deterministic heuristic
returning the same triple with the same gates:

  * min-chars gate — exact reference semantics & message
    (provider_manager.py:175-176: ``len(text.strip()) < 3`` ->
    ``(False, 0.0, "Text too short or empty")``);
  * garbled-nonsense detection — ratio of vowel-less ASCII words (the
    text analog of OCR line noise);
  * link-farm / boilerplate detection — ratio of short navigation-like
    lines (the HTML analog of "garbled": a tier that failed to strip
    boilerplate produces many short link captions);
  * alphabetic-density floor;
  * confidence clamped to [0,1] (provider_manager.py:240-241) and reason
    capped to 200 chars (``:234-236``).

Pure function of the text — shared verbatim between the pytest/DuckDB
oracle and the Spark Arrow stage.
"""

from __future__ import annotations

import re
from typing import Tuple

from jarvis_ocr_service_spark.config import (
    ALPHA_RATIO_MIN,
    GARBLED_RATIO_MAX,
    GARBLED_WORD_MIN_LEN,
    MAX_REASON_CHARS,
    MIN_VALID_CHARS,
    SHORT_LINE_CHARS,
    SHORT_LINE_RATIO_MAX,
)

_VOWELS = frozenset("aeiouyAEIOUY")
_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
)

# Garbled-token detector: one C-level regex search deciding whether ANY
# whitespace-separated token is "garbled" under the loop's exact rule —
# all-ASCII, >= GARBLED_WORD_MIN_LEN chars, contains a letter, contains no
# vowel. When it finds nothing (the overwhelmingly common case for real
# text), n_garbled is 0 and garbled_ratio is 0.0 whatever the word count,
# so the per-word Python loop can be skipped entirely. Token boundaries
# match str.split() because re's \s equals str.isspace() on every
# codepoint; exactness is fuzz-pinned by tests/test_validate.py.
_GARBLED_NONVOWEL_ASCII = "".join(
    c for c in map(chr, range(128))
    if not c.isspace() and c not in "aeiouyAEIOUY"
)
_RE_GARBLED_TOKEN = re.compile(
    r"(?<!\S)(?=[{nv}]*[{cons}])[{nv}]{{{mn},}}(?!\S)".format(
        nv=re.escape(_GARBLED_NONVOWEL_ASCII),
        cons="bcdfghjklmnpqrstvwxzBCDFGHJKLMNPQRSTVWXZ",
        mn=GARBLED_WORD_MIN_LEN,
    )
)

# Letter counting is one C-level regex pass (a per-char Python isalpha()
# loop costs ~15ms on a 50KB doc — this is the validator's hot path).
# Definition: "letters" = \w minus digits/underscore (Unicode-aware);
# shared by oracle and UDF, so it IS the semantic, not an approximation.
_RE_NON_ALPHA = re.compile(r"[\W\d_]+")

# The heuristics scan only this prefix of the text. Reference-faithful:
# the reference's LLM validator sees text[:500] only
# (provider_manager.py:185-201, MAX_OCR_TEXT_IN_PROMPT) — we are more
# generous. Also the 100-TB-correct design: validation cost is O(4KB)
# per doc regardless of document size. The min-chars gate still applies
# to the full text.
VALIDATE_PREFIX_CHARS = 4096


def _clamp01(x: float) -> float:
    return max(0.0, min(1.0, x))


def validate_text(text: str) -> Tuple[bool, float, str]:
    """Score extracted text. Returns (is_valid, confidence, reason<=200)."""
    stripped = text.strip() if text else ""
    if len(stripped) < MIN_VALID_CHARS:
        # Exact reference gate + message (provider_manager.py:175-176).
        return False, 0.0, "Text too short or empty"

    # Heuristics over a bounded prefix, cut at a word boundary so the last
    # (possibly split) token never miscounts as garbled.
    prefix = stripped[:VALIDATE_PREFIX_CHARS]
    if len(stripped) > VALIDATE_PREFIX_CHARS:
        cut = prefix.rfind(" ")
        nl = prefix.rfind("\n")
        cut = max(cut, nl)
        if cut > 0:
            prefix = prefix[:cut]

    n = len(prefix)
    n_alpha = len(_RE_NON_ALPHA.sub("", prefix))
    alpha_ratio = n_alpha / n if n else 0.0

    # Word classification was the validator's hot loop (~500 words/doc).
    # Fast path: one regex search proves no garbled token exists, in which
    # case garbled_ratio is exactly 0.0 (0/n == 0 and the 0-word branch
    # also yields 0.0) and neither count is observable — the garbled
    # failure reason only renders when n_garbled > 0. Only documents that
    # DO contain a garbled candidate pay the exact counting loop
    # (frozenset.isdisjoint(str) is a C-level scan per word).
    if _RE_GARBLED_TOKEN.search(prefix) is None:
        n_garbled = 0
        n_ascii_words = 0
        garbled_ratio = 0.0
    else:
        n_ascii_words = 0
        n_garbled = 0
        for w in prefix.split():
            if not w.isascii() or _ASCII_LETTERS.isdisjoint(w):
                continue
            n_ascii_words += 1
            if len(w) >= GARBLED_WORD_MIN_LEN and _VOWELS.isdisjoint(w):
                n_garbled += 1
        garbled_ratio = (n_garbled / n_ascii_words) if n_ascii_words else 0.0

    lines = [l for l in prefix.split("\n") if l.strip()]
    short_lines = [l for l in lines if len(l) < SHORT_LINE_CHARS]
    short_line_ratio = (len(short_lines) / len(lines)) if lines else 1.0

    confidence = _clamp01(
        0.30
        + 0.40 * alpha_ratio
        + 0.20 * (1.0 - short_line_ratio)
        + 0.10 * (1.0 - garbled_ratio)
    )

    if garbled_ratio > GARBLED_RATIO_MAX:
        reason = (
            f"Garbled nonsense: {n_garbled}/{n_ascii_words} words "
            f"without vowels"
        )
        return False, 0.0, reason[:MAX_REASON_CHARS]

    if alpha_ratio < ALPHA_RATIO_MIN:
        reason = f"Low alphabetic density: {alpha_ratio:.2f}"
        return False, 0.0, reason[:MAX_REASON_CHARS]

    if short_line_ratio > SHORT_LINE_RATIO_MAX and len(lines) >= 4:
        reason = (
            f"Navigation-like content: {len(short_lines)}/{len(lines)} "
            f"short lines"
        )
        return False, 0.0, reason[:MAX_REASON_CHARS]

    reason = f"Readable content: alpha={alpha_ratio:.2f}, lines={len(lines)}"
    return True, confidence, reason[:MAX_REASON_CHARS]


def min_valid_chars_col(col):
    """The SQL-expressible part of the gate (F6): length(trim(x)) >= 3."""
    from pyspark.sql import functions as F

    return F.length(F.trim(F.coalesce(col, F.lit("")))) >= MIN_VALID_CHARS
