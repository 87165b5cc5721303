"""URL canonicalization and link extraction for crawl pipelines.

Common-Crawl-scale corpora carry the same page under many URL spellings
(case-variant hosts, default ports, tracking params, fragments, trailing
slashes). Canonicalizing before dedup collapses those families without
touching payload bytes — the cheapest dedup lever there is (pure string
Column expressions, whole-stage codegen, zero Python).

The rule set is PINNED (documented, deterministic, and deliberately
regex-only so the DuckDB oracle mirrors it exactly — every pattern is
RE2-safe: no lookaround, no backrefs in patterns):

 1. trim surrounding whitespace
 2. strip the fragment ('#' and everything after)
 3. lowercase the scheme://authority head (path/query stay case-sensitive)
 4. strip default ports — ':80' for http, ':443' for https
 5. drop utm_* query parameters (the tracking-param family)
 6. repair separators left by rule 5 ('?&' -> '?', '&&' -> '&',
    trailing '?'/'&' stripped)
 7. collapse trailing slashes of a non-root path when no query remains

This is a practical crawl-dedup canonicalizer, not a full RFC 3986
normalizer (no percent-encoding normalization, no dot-segment removal).

Reference parity note: the reference service treats URLs as opaque ids;
this is part of the training-data layer (SURVEY §2 "beyond the
reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (pattern, spark_replacement) pairs, applied in order. DuckDB mirrors
# use \\1-style refs instead of $1 — same groups, same semantics.
_HEAD = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def canonical_url_col(col):
    """Canonical form of a URL column (rules 1-7 above), pure Column ops."""
    u = F.trim(F.coalesce(col, F.lit("")))
    # 2. fragment
    u = F.regexp_replace(u, r"#.*", "")
    # 3. lowercase scheme://authority; rest of the string untouched
    head = F.regexp_extract(u, _HEAD, 1)
    u = F.concat(F.lower(head), F.substring(u, F.length(head) + F.lit(1), F.length(u)))
    # 4. default ports (post-lowercase, so literal http/https match)
    u = F.regexp_replace(u, r"^(http://[^/?#]*):80([/?#].*)?$", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#]*):443([/?#].*)?$", "$1$2")
    # 5. utm_* params. A single global pass cannot collapse ADJACENT utm
    # params ('?utm_a=1&utm_b=2': the second starts inside the first
    # match), so the mid-string rule runs a pinned 3x cascade; a final
    # rule kills a trailing utm param.
    for _ in range(3):
        u = F.regexp_replace(u, r"([?&])utm_[^&#]*&", "$1")
    u = F.regexp_replace(u, r"[?&]utm_[^&#]*$", "")
    # 6. separator repair
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?&]+$", "")
    # 7. trailing slashes on a non-root path (only when no query remains)
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?#]+/[^?#]*[^/?#])/+$", "$1")
    return u


def canonical_url_duck_sql(expr: str) -> str:
    """The EXACT DuckDB mirror of :func:`canonical_url_col` (kept adjacent
    so the two rule chains cannot drift apart)."""
    u = f"trim(coalesce({expr}, ''))"
    u = f"regexp_replace({u}, '#.*', '', 'g')"
    head = f"regexp_extract({u}, '{_HEAD}', 1)"
    # stage the post-fragment string once via a lambda-less trick: DuckDB
    # evaluates the CTE column; callers should wrap in a CTE for clarity.
    u = f"(lower({head}) || substring({u}, length({head}) + 1))"
    u = f"regexp_replace({u}, '^(http://[^/?#]*):80([/?#].*)?$', '\\1\\2')"
    u = f"regexp_replace({u}, '^(https://[^/?#]*):443([/?#].*)?$', '\\1\\2')"
    for _ in range(3):
        u = f"regexp_replace({u}, '([?&])utm_[^&#]*&', '\\1', 'g')"
    u = f"regexp_replace({u}, '[?&]utm_[^&#]*$', '')"
    u = f"regexp_replace({u}, '\\?&', '?', 'g')"
    u = f"regexp_replace({u}, '&&+', '&', 'g')"
    u = f"regexp_replace({u}, '[?&]+$', '')"
    u = (
        f"regexp_replace({u}, "
        f"'^([a-z][a-z0-9+.-]*://[^/?#]+/[^?#]*[^/?#])/+$', '\\1')"
    )
    return u


def outlinks_col(html_col):
    """href values of an HTML payload, in document order (array<string>)
    — the raw material of the crawl's link graph. Pure Column ops:
    kind gate + a TOTAL binary->string cast + one regexp pass.

    Decode tolerance: the cast is ``binary.cast("string")``, NOT
    ``F.decode(_, 'UTF-8')`` — Spark 4's decode throws
    MALFORMED_CHARACTER_CODING on any malformed byte, and the kind gate
    deliberately classifies latin-1/UTF-16 HTML as HTML (content_kind_col
    sniffs structure, not charset), so one accented latin-1 page would
    crash the whole job. The cast is a byte-passthrough that the regexp
    evaluation then reads with the JVM's standard replacement decoding:
    ASCII markup (``href=...`` syntax) is unaffected, non-UTF-8 bytes
    inside extracted URLs surface as U+FFFD — deterministic, never a
    row error. Real-world hosts are ASCII/punycode, so the link graph
    built on top is unaffected by the replacement.

    Pattern ``href\\s*=\\s*["']([^"']*)["']`` accepts both quote styles
    (and tolerates mixed quotes — deliberate, it keeps the DuckDB mirror
    trivially identical); non-HTML payloads yield an empty array."""
    from jarvis_ocr_service_spark.operators.dispatch import (
        KIND_HTML,
        content_kind_col,
    )

    links = F.regexp_extract_all(
        html_col.cast("string"),
        F.lit("href\\s*=\\s*[\"']([^\"']*)[\"']"),
        1,
    )
    return F.when(content_kind_col(html_col) == KIND_HTML, links).otherwise(
        F.array().cast("array<string>")
    )


ANCHOR_PATTERN = "<a\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"'][^>]*>([^<]*)<"


def anchor_texts(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Corpus-wide anchor-text aggregation: ``(href, anchor, n)`` — the
    link-graph signal search/authority pipelines mine (what the web
    CALLS a target is a quality/relevance feature the target page
    itself cannot fake). Anchor = the text run up to the first ``<``
    after the opening tag (the pinned rule — nested markup inside an
    anchor contributes nothing, keeping both engines' regex engines in
    trivial agreement); whitespace-collapsed and trimmed. Non-HTML
    payloads contribute nothing (the same kind gate as
    :func:`outlinks_col`; the same tolerant binary->string cast).

    Scale shape: one regexp pass per group index over the page bytes
    (map-only), explode of the zipped pairs, then ONE groupBy shuffle
    carrying only (href, anchor) pairs with map-side partial agg."""
    from jarvis_ocr_service_spark.operators.dispatch import (
        KIND_HTML,
        content_kind_col,
    )

    s = F.col(html_col).cast("string")
    gate = content_kind_col(F.col(html_col)) == KIND_HTML
    empty = F.array().cast("array<string>")
    base = df.select(
        F.when(gate, F.regexp_extract_all(s, F.lit(ANCHOR_PATTERN), 1))
        .otherwise(empty)
        .alias("_h"),
        F.when(gate, F.regexp_extract_all(s, F.lit(ANCHOR_PATTERN), 2))
        .otherwise(empty)
        .alias("_t"),
    )
    pair = base.select(
        F.explode(F.arrays_zip(F.col("_h"), F.col("_t"))).alias("_p")
    )
    anchor = F.trim(F.regexp_replace(F.col("_p._t"), r"\s+", " "))
    return (
        pair.select(F.col("_p._h").alias("href"), anchor.alias("anchor"))
        .groupBy("href", "anchor")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
