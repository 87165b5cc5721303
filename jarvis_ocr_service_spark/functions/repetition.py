"""Repetition / duplication quality filters for training-data pipelines.

The standard "Gopher rules" family (Rae et al. 2021, "Scaling Language
Models: ... Gopher", appendix A1.1 — public paper; the same filters
appear in most open LLM data pipelines, e.g. RedPajama / Dolma / CCNet
derivatives): documents dominated by repeated lines or repeated word
n-grams are boilerplate/spam and get filtered before training.

Pinned definitions (all ratios are a single IEEE double division of two
exactly-computed integers, so the DuckDB oracle reproduces them bit-for-
bit; ``text`` is capped at ``max_chars`` first):

* ``dup_line_frac``      = (n_lines - n_distinct_lines) / n_lines over
  non-empty lines (split on '\\n', each line stripped of the pinned
  charset ' \\t\\r\\x0b\\x0c'); 0.0 when no lines.
* ``dup_line_char_frac`` = sum(len(line)*count over distinct lines with
  count >= 2) / sum(len(line)*count over all lines); 0.0 when empty.
* ``top{n}_char_frac``   (n in ``top_grams``) = count * len(gram) of the
  most frequent word n-gram / max(1, len(text_capped)). Ties break to
  the lexicographically smallest gram. Tokens are ``str.split()``
  whitespace tokens; the gram string is the tokens joined by a single
  space. 0.0 when the document has fewer than n tokens.
* ``dup{n}_char_frac``   (n in ``dup_grams``) = sum(count*len(gram) over
  distinct grams with count >= 2) / sum(count*len(gram) over all
  grams); 0.0 when no grams.

Implementation: one Arrow-batched pandas UDF computing every requested
stat in a single pass per document (Counter-based n-gram counting is
C-speed dict aggregation; the per-document cost is O(tokens * len(grams))
and input is bounded by ``max_chars``, the validator-style cap). A pure
Column form exists on paper but needs O(L^2) interpreted higher-order
lambdas for the occurrence counts — the same no-CSE trap measured at
~0.4 ms per window element in winnowing (textstats.py).

Reference parity note: the reference service has no corpus-level quality
filtering; this is part of the training-data layer (SURVEY §2 "beyond
the reference").
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# line strip charset is pinned (NOT str.strip()'s full unicode whitespace,
# which DuckDB's trim cannot mirror) — '\n' never appears post-split
LINE_STRIP_CHARS = " \t\r\x0b\x0c"

DEFAULT_TOP_GRAMS: Tuple[int, ...] = (2, 3)
DEFAULT_DUP_GRAMS: Tuple[int, ...] = (5, 10)


def repetition_field_names(
    top_grams: Sequence[int] = DEFAULT_TOP_GRAMS,
    dup_grams: Sequence[int] = DEFAULT_DUP_GRAMS,
) -> list:
    return (
        ["dup_line_frac", "dup_line_char_frac"]
        + [f"top{n}_char_frac" for n in top_grams]
        + [f"dup{n}_char_frac" for n in dup_grams]
    )


def repetition_stats_one(
    text: str,
    top_grams: Sequence[int] = DEFAULT_TOP_GRAMS,
    dup_grams: Sequence[int] = DEFAULT_DUP_GRAMS,
    max_chars: int = 20000,
) -> dict:
    """Shared pure-Python form (used by the Spark UDF AND unit oracles)."""
    t = (text or "")[:max_chars]
    out = {}

    lines = [ln.strip(LINE_STRIP_CHARS) for ln in t.split("\n")]
    lines = [ln for ln in lines if ln]
    if lines:
        n = len(lines)
        counts = Counter(lines)
        out["dup_line_frac"] = (n - len(counts)) / n
        total = sum(len(ln) * c for ln, c in counts.items())
        dup = sum(len(ln) * c for ln, c in counts.items() if c >= 2)
        out["dup_line_char_frac"] = dup / total if total else 0.0
    else:
        out["dup_line_frac"] = 0.0
        out["dup_line_char_frac"] = 0.0

    toks = t.split()
    tlen = max(1, len(t))
    for n in top_grams:
        key = f"top{n}_char_frac"
        if len(toks) < n:
            out[key] = 0.0
            continue
        counts = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        best_c = max(counts.values())
        best_g = min(g for g, c in counts.items() if c == best_c)
        out[key] = best_c * len(best_g) / tlen
    for n in dup_grams:
        key = f"dup{n}_char_frac"
        if len(toks) < n:
            out[key] = 0.0
            continue
        counts = Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        total = sum(len(g) * c for g, c in counts.items())
        dup = sum(len(g) * c for g, c in counts.items() if c >= 2)
        out[key] = dup / total if total else 0.0
    return out


def with_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "rep_stats",
    top_grams: Sequence[int] = DEFAULT_TOP_GRAMS,
    dup_grams: Sequence[int] = DEFAULT_DUP_GRAMS,
    max_chars: int = 20000,
) -> DataFrame:
    """Append a struct column of repetition stats (one Arrow stage)."""
    fields = repetition_field_names(top_grams, dup_grams)
    rtype = T.StructType([T.StructField(f, T.DoubleType(), False) for f in fields])

    @F.pandas_udf(rtype)
    def rep(series: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in series:
            rows = [
                repetition_stats_one(t, top_grams, dup_grams, max_chars)
                for t in s
            ]
            yield pd.DataFrame(rows, columns=fields)

    return df.withColumn(out_col, rep(F.col(text_col)))
