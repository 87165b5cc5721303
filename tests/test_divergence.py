"""Corpus divergence report (importance.corpus_divergence):
brute-force parity, identical-corpus zero, disjoint-vocab OOV mass."""

from collections import Counter

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.importance import corpus_divergence
from jarvis_ocr_service_spark.plans.caching import cache_scope


def _flog2(x):
    return max(int(x), 1).bit_length() - 1


def _brute_divergence(texts_p, texts_q):
    cp, cq = Counter(), Counter()
    for t in texts_p:
        cp.update((t or "").lower().split())
    for t in texts_q:
        cq.update((t or "").lower().split())
    vocab = set(cp) | set(cq)
    tp, tq, v = sum(cp.values()), sum(cq.values()), len(vocab)
    sp = {t: _flog2((tp + v) // (cp[t] + 1)) for t in vocab}
    sq = {t: _flog2((tq + v) // (cq[t] + 1)) for t in vocab}
    ent_p = sum(cp[t] * sp[t] for t in vocab)
    ent_q = sum(cq[t] * sq[t] for t in vocab)
    xent_pq = sum(cp[t] * sq[t] for t in vocab)
    xent_qp = sum(cq[t] * sp[t] for t in vocab)
    return {
        "t_p": tp,
        "t_q": tq,
        "v": v,
        "oov_p": sum(cp[t] for t in vocab if cq[t] == 0),
        "oov_q": sum(cq[t] for t in vocab if cp[t] == 0),
        "ent_p": ent_p,
        "ent_q": ent_q,
        "xent_pq": xent_pq,
        "xent_qp": xent_qp,
        "kl_pq": xent_pq - ent_p,
        "kl_qp": xent_qp - ent_q,
    }


def _run(spark, texts_p, texts_q):
    dp = spark.createDataFrame([(t,) for t in texts_p], "text string")
    dq = spark.createDataFrame([(t,) for t in texts_q], "text string")
    with cache_scope():
        return corpus_divergence(dp, dq).collect()[0].asDict()


def test_divergence_brute_parity(spark):
    texts_p = ["the quick brown fox", "the lazy dog", "fox and dog", None, ""]
    texts_q = ["stock market report", "the market fell", "dog stocks rose"]
    assert _run(spark, texts_p, texts_q) == _brute_divergence(texts_p, texts_q)


def test_divergence_identical_corpora_zero_kl(spark):
    texts = ["a b c", "b c d", "a a d"]
    row = _run(spark, texts, texts)
    # same LM both sides: s_P == s_Q exactly, so KL is EXACTLY zero
    assert row["kl_pq"] == 0 and row["kl_qp"] == 0
    assert row["oov_p"] == 0 and row["oov_q"] == 0


def test_divergence_disjoint_vocab(spark):
    texts_p, texts_q = ["aa bb aa"], ["xx yy zz yy"]
    row = _run(spark, texts_p, texts_q)
    assert row["oov_p"] == row["t_p"] == 3
    assert row["oov_q"] == row["t_q"] == 4
    assert row == _brute_divergence(texts_p, texts_q)
    # every P token is maximally surprising under Q -> strictly positive drift
    assert row["kl_pq"] > 0 and row["kl_qp"] > 0


def test_divergence_empty_side(spark):
    row = _run(spark, ["a b"], [])
    assert row == _brute_divergence(["a b"], [])
    assert row["t_q"] == 0 and row["ent_q"] == 0
