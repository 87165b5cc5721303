"""Quantized TF-IDF lexical top-k: brute-force parity, plan shape."""

from collections import Counter

import pytest

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.lexsearch import (
    bm25_topk_quantized,
    tfidf_topk_quantized,
)
from jarvis_ocr_service_spark.functions.tokens import py_tokens_col

DOCS = [
    (0, "apple banana apple cherry"),
    (1, "banana banana banana"),
    (2, "cherry date elderberry"),
    (3, "apple apple apple apple date"),
    (4, "fig grape"),
    (5, ""),
    (6, "APPLE Banana"),  # case-folded
]


def brute(query, docs, scale=1_000_000, k=10):
    terms = sorted({t for t in query.lower().split() if t})
    n = len(docs)
    tf = {}
    df = Counter()
    for key, text in docs:
        c = Counter(w for w in text.lower().split() if w in terms)
        if c:
            tf[key] = c
            for t in c:
                df[t] += 1
    scores = {
        key: sum(cnt * (scale * n // df[t]) for t, cnt in c.items())
        for key, c in tf.items()
    }
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_matches_brute_force(docs_df):
    got = [(r.key, r.score) for r in tfidf_topk_quantized(docs_df, "apple banana").collect()]
    assert got == brute("apple banana", DOCS)


def test_rare_term_outweighs_common(docs_df):
    # 'fig' appears in 1 doc, 'banana' in 3 -> doc 4 must beat any
    # single-banana doc for the query 'fig banana'
    got = [r.key for r in tfidf_topk_quantized(docs_df, "fig banana").collect()]
    assert got[0] in (1, 4)  # 3x banana vs 1x fig — check exact below
    exp = [k for k, _ in brute("fig banana", DOCS)]
    assert got == exp


def test_n_docs_param_skips_count(docs_df):
    a = tfidf_topk_quantized(docs_df, "apple", n_docs=7).collect()
    b = tfidf_topk_quantized(docs_df, "apple").collect()
    assert [(r.key, r.score) for r in a] == [(r.key, r.score) for r in b]


def test_empty_query_raises(docs_df):
    with pytest.raises(ValueError):
        tfidf_topk_quantized(docs_df, "   ")


def test_plan_is_map_only_topk(docs_df):
    """r7 shape: the scoring pass is map-only regexp_count columns ending
    in TakeOrderedAndProject — zero Exchange, zero joins, no explode (the
    only shuffle-free plan possible for single-query top-k)."""
    plan = (
        tfidf_topk_quantized(docs_df, "apple banana")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    # TakeOrdered (top-k) rather than a global sort
    assert "TakeOrderedAndProject" in plan, plan


def brute_bm25(query, docs, scale=1_000_000, k=10, k1=(6, 5), b=(3, 4)):
    """Pure-int BM25 mirror of bm25_topk_quantized's documented formula."""
    terms = sorted({t for t in query.lower().split() if t})
    n = len(docs)
    k1n, k1d = k1
    bn, bd = b
    dls = {key: len(text.lower().split()) for key, text in docs}
    total = sum(dls.values())
    avgdl_q = max(1, total // max(1, n))
    tf = {}
    df = Counter()
    for key, text in docs:
        c = Counter(w for w in text.lower().split() if w in terms)
        if c:
            tf[key] = c
            for t in c:
                df[t] += 1
    scores = {}
    for key, c in tf.items():
        s = 0
        for t, cnt in c.items():
            idf_q = scale * (2 * (n - df[t]) + 1) // (2 * df[t] + 1)
            num = cnt * (k1n + k1d) * bd * avgdl_q
            den = cnt * k1d * bd * avgdl_q + k1n * (
                (bd - bn) * avgdl_q + bn * dls[key]
            )
            s += idf_q * num // den
        scores[key] = s
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_bm25_matches_brute_force(docs_df):
    from jarvis_ocr_service_spark.functions.lexsearch import bm25_topk_quantized

    for q in ("apple banana", "fig banana", "cherry date apple"):
        got = [(r.key, r.score) for r in bm25_topk_quantized(docs_df, q).collect()]
        assert got == brute_bm25(q, DOCS), q


def test_bm25_length_normalization_beats_tfidf(spark):
    """The point of BM25 over TF-IDF: a short doc with one hit must beat
    a long padded doc with one hit (same tf, same term), which TF-IDF
    scores identically."""
    from jarvis_ocr_service_spark.functions.lexsearch import bm25_topk_quantized

    docs = [
        (0, "needle " + " ".join(f"pad{j}" for j in range(200))),
        (1, "needle in a tiny doc"),
        (2, " ".join(f"other{j}" for j in range(50))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [r.key for r in bm25_topk_quantized(df, "needle").collect()]
    assert got == [1, 0]  # short doc first; doc 2 unscored


def test_bm25_tf_saturation(spark):
    """tf saturates: 50 repeats of the term must score < 50x one hit
    (strictly sublinear), while still scoring above it."""
    from jarvis_ocr_service_spark.functions.lexsearch import bm25_topk_quantized

    pad = " ".join(f"p{j}" for j in range(20))
    docs = [(0, ("needle " * 50) + pad), (1, "needle " + pad)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    s = {r.key: r.score for r in bm25_topk_quantized(df, "needle").collect()}
    assert s[0] > s[1]
    assert s[0] < 50 * s[1]


def test_bm25_params_skip_jobs_and_match(docs_df):
    from jarvis_ocr_service_spark.functions.lexsearch import bm25_topk_quantized

    total = sum(len(t.split()) for _, t in DOCS)
    a = bm25_topk_quantized(docs_df, "apple", n_docs=7, total_tokens=total).collect()
    b = bm25_topk_quantized(docs_df, "apple").collect()
    assert [(r.key, r.score) for r in a] == [(r.key, r.score) for r in b]


def test_bm25_plan_is_map_only_topk(docs_df):
    from jarvis_ocr_service_spark.functions.lexsearch import bm25_topk_quantized

    plan = (
        bm25_topk_quantized(docs_df, "apple banana")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_term_tf_ignores_trailing_line_terminators(spark):
    """Java's ``$`` matches before a final U+0085/U+2028/U+2029, but the
    py-token rule splits on Java ``\\s``, which has none of them: a doc
    ending "apple<NEL>" has the token "apple<NEL>", not "apple"."""
    docs = [
        (0, "apple\u0085"),
        (1, "banana apple\u2028"),
        (2, "apple\u2029"),
        (3, "apple"),
        (4, "apple\n"),
        (5, "x apple\u0085 apple"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    toks = df.select("doc_id", py_tokens_col(F.col("text")).alias("t")).collect()
    tf = {r.doc_id: r.t.count("apple") for r in toks}
    assert tf == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1}
    got = {r.key for r in tfidf_topk_quantized(df, "apple").collect()}
    assert got == {k for k, n in tf.items() if n}
    got = {r.key for r in bm25_topk_quantized(df, "apple").collect()}
    assert got == {k for k, n in tf.items() if n}


def test_bm25_rejects_n_docs_below_df(docs_df):
    """'apple' occurs in 3 docs: a caller-supplied n_docs of 2 would make
    N - df negative, so it is refused rather than scored."""
    with pytest.raises(ValueError, match="apple"):
        bm25_topk_quantized(docs_df, "apple banana", n_docs=2)
    assert bm25_topk_quantized(docs_df, "apple", n_docs=3).collect()
