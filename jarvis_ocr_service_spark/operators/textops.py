"""Text normalization and byte-safe truncation.

Two equivalent forms:

1. pure-Python scalar (the oracle, and what the fused cascade runs per
   row; byte-identical to the reference service's semantics in its
   app/text_utils.py:8-76 — verified by tests/test_textops.py, which
   replays the reference's documented edge cases),
2. for normalize only, a pure Spark-SQL Column expression (JVM-side,
   whole-stage-codegen'd — the fast path when the input is already a
   string column and no Python stage is otherwise needed).

Property tests assert 1 == 2 on arbitrary input (tests/test_textops.py).
"""

from __future__ import annotations

import re
from typing import Optional, Tuple

from jarvis_ocr_service_spark.config import MAX_TEXT_BYTES

_RE_NEWLINES = re.compile(r"\r\n|\r")
_RE_MULTI_NL = re.compile(r"\n{3,}")
_RE_SPACES = re.compile(r" +")
# Any whitespace other than ' '/'\n', a double space, or a space adjacent
# to a newline — if absent, the per-line strip+collapse pass is an identity
# (modulo the final strip), so we can skip it. The predicate is decomposed
# into memchr-speed substring checks plus (ASCII fast path) per-char `in`
# scans — ~4x cheaper than the equivalent alternation regex
# r"[^\S\n ]|  | \n|\n " on clean text, exactness fuzz-pinned by
# tests/test_textops.py. [^\S\n ] on ASCII is exactly {\t \v \f \r
# \x1c-\x1f} (re's \s == str.isspace on every codepoint).
_RE_ODD_WS_CLASS = re.compile(r"[^\S\n ]")


def _needs_line_pass(text: str) -> bool:
    if "  " in text or " \n" in text or "\n " in text:
        return True
    if text.isascii():
        return (
            "\t" in text
            or "\x0b" in text
            or "\x0c" in text
            or "\r" in text
            or "\x1c" in text
            or "\x1d" in text
            or "\x1e" in text
            or "\x1f" in text
        )
    return _RE_ODD_WS_CLASS.search(text) is not None


# ---------------------------------------------------------------------------
# 1. Pure-Python scalar (oracle)
# ---------------------------------------------------------------------------

def normalize_text(text: str) -> str:
    """Normalize extracted text.

    Semantics (reference /root/reference/app/text_utils.py:8-40):
      - strip NUL bytes
      - \\r\\n / \\r -> \\n
      - 3+ consecutive newlines -> exactly 2
      - per line: strip, then collapse runs of spaces to one
      - final strip
    """
    if not text:
        return ""
    if "\x00" in text:
        text = text.replace("\x00", "")
    if "\r" in text:
        text = _RE_NEWLINES.sub("\n", text)
    if "\n\n\n" in text:
        text = _RE_MULTI_NL.sub("\n\n", text)
    if not _needs_line_pass(text):
        # fast path: per-line pass would be an identity; only edge
        # whitespace remains, which strip() handles equivalently.
        return text.strip()
    lines = text.split("\n")
    text = "\n".join(_RE_SPACES.sub(" ", line.strip()) for line in lines)
    return text.strip()


def truncate_text(text: str, max_bytes: Optional[int] = None) -> Tuple[str, bool]:
    """UTF-8-byte-safe truncation.

    Cuts at ``max_bytes`` UTF-8 bytes, backing off until the prefix decodes
    (never splits a multi-byte sequence). Returns (text, was_truncated).
    Semantics: /root/reference/app/text_utils.py:43-76.
    """
    if max_bytes is None:
        max_bytes = MAX_TEXT_BYTES
    raw = text.encode("utf-8")
    if len(raw) <= max_bytes:
        return text, False
    cut = raw[:max_bytes]
    while cut:
        try:
            return cut.decode("utf-8"), True
        except UnicodeDecodeError:
            cut = cut[:-1]
    return "", True


def text_len_bytes(text: str) -> int:
    """UTF-8 byte length (reference worker.py:199 ``len(t.encode('utf-8'))``)."""
    return len(text.encode("utf-8"))


def truncate_with_len(
    text: str, max_bytes: Optional[int] = None
) -> Tuple[str, bool, int]:
    """``truncate_text`` + the final text's UTF-8 byte length, computed from
    the single encode pass (the cascade previously paid a second full encode
    via ``text_len_bytes(final_text)``). Identical semantics by construction:
    untruncated -> len(raw); truncated -> len(cut) after decode backoff."""
    if max_bytes is None:
        max_bytes = MAX_TEXT_BYTES
    raw = text.encode("utf-8")
    if len(raw) <= max_bytes:
        return text, False, len(raw)
    cut = raw[:max_bytes]
    while cut:
        try:
            return cut.decode("utf-8"), True, len(cut)
        except UnicodeDecodeError:
            cut = cut[:-1]
    return "", True, 0


# ---------------------------------------------------------------------------
# 2. Spark-SQL Column expression (JVM-side normalize)
# ---------------------------------------------------------------------------

def normalize_text_col(col):
    """normalize_text as a pure Column expression (whole-stage codegen).

    Equivalent to :func:`normalize_text` for text whose only whitespace
    characters are spaces, ``\\n``, ``\\r`` (property-tested on that domain).
    Known divergence: Spark ``trim`` strips only ASCII spaces, while Python
    ``str.strip()`` strips all Unicode whitespace — so tabs or NBSP at line
    edges survive here. The extraction pipeline itself always uses the
    shared Python implementation inside its Arrow stage; this column form
    exists for SQL-only flows where the input is known-plain.
    """
    from pyspark.sql import functions as F

    c = F.coalesce(col, F.lit(""))
    c = F.regexp_replace(c, "\x00", "")
    c = F.regexp_replace(c, r"\r\n|\r", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    # per-line strip + collapse spaces
    c = F.array_join(
        F.transform(F.split(c, "\n", -1), lambda l: F.regexp_replace(F.trim(l), " +", " ")),
        "\n",
    )
    # final strip: Spark trim only removes spaces; after per-line trimming
    # the only other edge whitespace possible is '\n' — strip both.
    return F.regexp_replace(c, "^[\n ]+|[\n ]+$", "")


def normalize_text_sql(expr: str) -> str:
    """The same normalize as a Spark SQL string over column expression ``expr``.

    Escaping note: Spark's SQL string parser consumes one level of
    backslashes, so the Java-regex NUL escape ``\\x00`` is written
    ``'\\\\x00'`` here; ``'\\n'`` in a literal becomes a real newline, which
    is fine inside a regex/char-class.
    """
    return (
        "regexp_replace(array_join(transform(split("
        "regexp_replace(regexp_replace(regexp_replace(coalesce({e}, ''),"
        " '\\\\x00', ''), '\\r\\n|\\r', '\\n'), '\\n{{3,}}', '\\n\\n'),"
        " '\\n', -1), l -> regexp_replace(trim(l), ' +', ' ')), '\\n'),"
        " '^[\\n ]+|[\\n ]+$', '')"
    ).format(e=expr)
