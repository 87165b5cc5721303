"""Lexical (term-based) retrieval over a document corpus: quantized
TF-IDF top-k, the keyword-side counterpart of functions/simsearch's
embedding ANN.

Scoring is deliberately ALL-INTEGER so it is deterministic and
SQL-oracle-checkable (the repo's quantized-cosine trick applied to
lexical search — no log/float idf whose last-ulp could differ between
engines):

    idf_q(term)  = (scale * n_docs) // df(term)      (integer floor-div)
    score(doc)   = sum over query terms of tf(doc, term) * idf_q(term)

Rarer terms get proportionally larger integer weights (idf_q is
monotone-decreasing in df), tf contributes linearly, ranking is
(score DESC, key ASC) — a BM25-shaped signal with exact arithmetic.
Tokens are lowercased Python-``str.split()`` whitespace tokens (the
repo's pinned py-token class).

Scale shape (the 10^12-row discipline): single-query scoring never
tokenizes, explodes, or shuffles at all — per-term tf is ONE
``regexp_count`` pass per term over the lowered text (token-boundary
pattern, exactness vs the py-token split pinned by tests), so the plan
is (1) one map-only pass feeding a global aggregate (n_docs + per-term
df, collected: a handful of longs), (2) one map-only scoring pass ending
in TakeOrderedAndProject. Zero Exchange nodes.

Reference parity note: the reference service has no retrieval; this is
part of the training-data layer (SURVEY §2 "beyond the reference").
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SCALE = 1_000_000


def _java_quote(s: str) -> str:
    """java.util.regex.Pattern.quote: literal-quote ``s`` inside a regex
    (\\Q...\\E with any embedded \\E split exactly as Pattern.quote does)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _term_tf_col(lowered, term: str):
    """tf of ``term`` under the py-token rule, with NO split/explode: one
    ``regexp_count`` pass. A py-token equals ``term`` iff the occurrence
    is bounded by start/end-of-string or the tokenizer's ``\\s`` class
    (``py_tokens_col`` splits on the same Java ``\\s``). The leading
    boundary is consuming (at most one whitespace char), the trailing one
    a lookahead, so adjacent occurrences ("x x x") all count. The end
    anchor is ``\\z``: Java's ``$`` also matches before a final line
    terminator (U+0085, U+2028, U+2029), which ``\\s`` does not contain.
    Exactness vs explode+filter is pinned by tests/test_lexsearch.py."""
    return F.regexp_count(
        lowered, F.lit("(^|\\s)" + _java_quote(term) + "(?=\\s|\\z)")
    ).cast("long")


_DL_PATTERN = "\\S+"  # token count == number of maximal non-\s runs


def tfidf_topk_quantized(
    df: DataFrame,
    query: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 10,
    scale: int = DEFAULT_SCALE,
    n_docs: Optional[int] = None,
) -> DataFrame:
    """Top-k documents for ``query`` by quantized TF-IDF (module
    docstring). ``n_docs`` skips the count aggregate when the caller knows
    the corpus size. Returns (key, score) — score is an exact BIGINT.

    Plan shape: zero Exchange — one map-only aggregate pass (n_docs +
    per-term document frequency, a handful of longs collected), idf
    computed driver-side with the same integer floor-div, then one
    map-only scoring pass ending in TakeOrderedAndProject."""
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    lowered = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(
        F.col(key_col).alias("key"),
        *[
            _term_tf_col(lowered, t).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    row = base.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    if n_docs is None:
        n_docs = row["_n"]
    # exact same integer arithmetic as the former SQL `div` per-term rows
    idf = {
        i: (int(scale) * int(n_docs)) // int(row[f"_df{i}"])
        for i in range(len(terms))
        if row[f"_df{i}"]
    }
    if not idf:  # no query term occurs anywhere -> empty result
        return base.filter(F.lit(False)).select(
            "key", F.lit(0).cast("long").alias("score")
        )
    present = None
    score = None
    for i, w in idf.items():
        tf = F.col(f"_tf{i}")
        present = (tf > 0) if present is None else (present | (tf > 0))
        term_score = tf * F.lit(w)
        score = term_score if score is None else (score + term_score)
    scored = base.filter(present).select(
        "key", score.cast("long").alias("score")
    )
    return scored.orderBy(F.desc("score"), F.col("key")).limit(k)


def bm25_topk_quantized(
    df: DataFrame,
    query: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 10,
    scale: int = DEFAULT_SCALE,
    k1: tuple = (6, 5),
    b: tuple = (3, 4),
    n_docs: Optional[int] = None,
    total_tokens: Optional[int] = None,
) -> DataFrame:
    """Top-k documents by QUANTIZED BM25 — TF-IDF plus the two things it
    lacks for real training-data mining: tf saturation (k1) and
    document-length normalization (b). All-integer, so the DuckDB oracle
    is value-exact (no float log/div whose last ulp could differ).

    ``k1``/``b`` are RATIONALS (num, den) — defaults (6,5)=1.2 and
    (3,4)=0.75, the textbook values. The real-valued BM25 term

        idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    becomes exact integers by (i) quantizing avgdl once per corpus:
    ``avgdl_q = total_tokens // n_docs`` (floor; >=1), (ii) clearing
    denominators with k1_den*b_den*avgdl_q, and (iii) one floor division
    at the end:

        idf_q   = (scale * (2*(n_docs - df) + 1)) // (2*df + 1)
                  # Robertson idf (N-df+.5)/(df+.5), the *2+1 trick
        num     = tf * (k1n + k1d) * b_den * avgdl_q
        den     = tf * k1d * b_den * avgdl_q
                  + k1n * ((b_den - b_num) * avgdl_q + b_num * dl)
        score   = sum over query terms of (idf_q * num) // den

    Monotonicity matches BM25 exactly: saturating in tf, decreasing in
    dl, decreasing in df. Overflow envelope (BIGINT): needs
    idf_q * num < 2^63, i.e. roughly scale * 2*n_docs * tf * 11 * 4 *
    avgdl_q < 9.2e18 — at 10^12 docs drop ``scale`` to ~10^3 (ranking
    granularity, not correctness, is what scale buys).

    Plan shape = tfidf_topk_quantized's zero-Exchange layout: per-term tf
    and dl are ``regexp_count`` passes over the lowered text (no
    tokenize/explode/shuffle); ONE map-only aggregate collects n_docs,
    total_tokens and per-term df (a handful of longs); idf_q is computed
    driver-side with the same integer arithmetic; the scoring pass is
    map-only ending in TakeOrderedAndProject. ``n_docs``/``total_tokens``
    are accepted for API compatibility (the aggregate is one pass either
    way and also carries df); an ``n_docs`` below a query term's df
    raises ``ValueError``. Returns (key, score) — score an exact
    BIGINT."""
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    k1n, k1d = map(int, k1)
    bn, bd = map(int, b)
    if k1n < 0 or k1d <= 0 or bn < 0 or bd <= 0 or bn > bd:
        raise ValueError("k1 must be >= 0 and b in [0, 1] as (num, den)")
    lowered = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(
        F.col(key_col).alias("key"),
        F.regexp_count(lowered, F.lit(_DL_PATTERN)).cast("long").alias("_dl"),
        *[
            _term_tf_col(lowered, t).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    row = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_tt"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    if n_docs is None:
        n_docs = row["_n"]
    if total_tokens is None:
        total_tokens = row["_tt"] or 0
    avgdl_q = max(1, int(total_tokens) // max(1, int(n_docs)))
    short = [t for i, t in enumerate(terms) if row[f"_df{i}"] > int(n_docs)]
    if short:
        # N - df < 0 would make the idf numerator negative, where the
        # Python floor division here and SQL `div` part ways
        raise ValueError(
            f"n_docs={n_docs} is smaller than the document frequency of "
            f"query term(s) {short}"
        )
    # Robertson idf with the *2+1 trick — exact same integer arithmetic
    # as the former per-term SQL (scale * (2*(N-df)+1)) div (2*df+1)
    idf = {
        i: (int(scale) * (2 * (int(n_docs) - int(row[f"_df{i}"])) + 1))
        // (2 * int(row[f"_df{i}"]) + 1)
        for i in range(len(terms))
        if row[f"_df{i}"]
    }
    if not idf:  # no query term occurs anywhere -> empty result
        return base.filter(F.lit(False)).select(
            "key", F.lit(0).cast("long").alias("score")
        )
    numc = (k1n + k1d) * bd * avgdl_q
    denc_tf = k1d * bd * avgdl_q
    denc_const = k1n * (bd - bn) * avgdl_q
    denc_dl = k1n * bn
    present = None
    term_sqls = []
    for i, w in idf.items():
        tf = F.col(f"_tf{i}")
        present = (tf > 0) if present is None else (present | (tf > 0))
        # integer `div` (SQL expr over the named tf/dl columns), identical
        # to the former per-row "(idf_q * _num) div _den"; a tf=0 term
        # contributes exactly 0 (num=0, den>0), matching the join-dropped
        # row of the exploded form
        term_sqls.append(
            f"(CAST({w} AS BIGINT) * (_tf{i} * CAST({numc} AS BIGINT)))"
            f" div (_tf{i} * CAST({denc_tf} AS BIGINT)"
            f" + CAST({denc_const} AS BIGINT)"
            f" + CAST({denc_dl} AS BIGINT) * _dl)"
        )
    score = F.expr(" + ".join(term_sqls))
    scored = base.filter(present).select(
        "key", score.cast("long").alias("score")
    )
    return scored.orderBy(F.desc("score"), F.col("key")).limit(k)
