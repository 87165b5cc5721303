"""Quantized Naive Bayes quality classifier (functions/classifier.py).

Brute-force parity pins the all-integer scoring rule; separation and
unseen-token tests pin the semantics a quality filter needs.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.classifier import (
    nb_quality_classifier,
    nb_score,
    nb_train,
)
from jarvis_ocr_service_spark.plans.caching import cache_scope


def _flog2(x: int) -> int:
    return max(int(x), 1).bit_length() - 1


def _brute_nb(docs, labels):
    """Pure-Python twin of nb_train + nb_score on the SAME corpus."""
    cpos, cneg = Counter(), Counter()
    for k, t in docs:
        toks = (t or "").lower().split()
        (cpos if labels[k] else cneg).update(toks)
    vocab = set(cpos) | set(cneg)
    np_, nn_, v = sum(cpos.values()), sum(cneg.values()), len(vocab)
    w = {
        t: _flog2((nn_ + v) // (cneg[t] + 1)) - _flog2((np_ + v) // (cpos[t] + 1))
        for t in vocab
    }
    n_docs = len(docs)
    n_pos = sum(1 for k in labels if labels[k])
    n_neg = n_docs - n_pos
    prior = _flog2((n_docs + 2) // (n_neg + 1)) - _flog2((n_docs + 2) // (n_pos + 1))
    w_unseen = _flog2(nn_ + v) - _flog2(np_ + v)
    scores = {}
    for k, t in docs:
        toks = (t or "").lower().split()
        scores[k] = prior + sum(w.get(tk, w_unseen) for tk in toks)
    return scores, w, prior, w_unseen


def _fixture_docs():
    # two vocabularies with deliberate overlap ("the", "data") so the
    # weights table carries both signed and ~zero weights
    pos_words = ["clean", "prose", "data", "the", "article"]
    neg_words = ["spam", "casino", "data", "the", "click"]
    docs = []
    labels = {}
    for i in range(24):
        pos = i % 2 == 0
        words = pos_words if pos else neg_words
        docs.append(
            (i, " ".join(words[(i + j) % len(words)] for j in range(4 + i % 5)))
        )
        labels[i] = pos
    docs += [(100, ""), (101, None)]
    labels[100], labels[101] = True, False
    return docs, labels


def test_nb_brute_parity(spark):
    docs, labels = _fixture_docs()
    df = spark.createDataFrame(
        [(k, t, labels[k]) for k, t in docs], "doc_id long, text string, lab boolean"
    )
    got = {r.key: (r.score, r.pred) for r in nb_quality_classifier(df, "lab").collect()}
    brute, _, prior, _ = _brute_nb(docs, labels)
    assert {k: s for k, (s, _) in got.items()} == brute
    assert all(p == (s >= 0) for s, p in got.values())
    # token-less docs score the bare prior (reported, not dropped)
    assert got[100][0] == prior and got[101][0] == prior


def test_nb_separates_classes(spark):
    docs, labels = _fixture_docs()
    df = spark.createDataFrame(
        [(k, t, labels[k]) for k, t in docs], "doc_id long, text string, lab boolean"
    )
    got = {r.key: r.pred for r in nb_quality_classifier(df, "lab").collect()}
    # every worded doc classifies to its own class on this separable corpus
    assert all(got[k] == labels[k] for k, t in docs if t)


def test_nb_score_unseen_tokens(spark, rdds):
    docs, labels = _fixture_docs()
    train = spark.createDataFrame(
        [(k, t, labels[k]) for k, t in docs], "doc_id long, text string, lab boolean"
    )
    score_docs = [(0, "clean prose zzz_never_seen"), (1, "zzz_a zzz_b")]
    test = spark.createDataFrame(score_docs, "doc_id long, text string")
    before = rdds()
    with cache_scope():
        weights, params = nb_train(train, "lab")
        got = {r.key: r.score for r in nb_score(test, weights, params).collect()}
        assert rdds() == before + 1  # nb_train's counts frame
    assert rdds() == before
    brute, w, prior, w_unseen = _brute_nb(docs, labels)
    assert params["prior"] == prior and params["w_unseen"] == w_unseen
    assert got == {
        k: prior + sum(w.get(tk, w_unseen) for tk in t.lower().split())
        for k, t in score_docs
    }


def test_nb_null_label_rejected(spark):
    df = spark.createDataFrame(
        [(0, "a b", True), (1, "c d", None)], "doc_id long, text string, lab boolean"
    )
    with pytest.raises(ValueError, match="NULL"):
        nb_train(df, "lab")


def test_nb_weights_plan_shape(spark, monkeypatch):
    """Training's counts agg partial-aggregates before its one shuffle;
    scoring's weights join is UNHINTED (AQE decides broadcast). The counts
    are a local checkpoint, whose plan the weights frame no longer carries,
    so the plan checked is the one the checkpoint materializes."""
    from jarvis_ocr_service_spark.functions import classifier

    materialized = []

    def spy(frame):
        materialized.append(frame._jdf.queryExecution().executedPlan().toString())
        return checkpoint(frame)

    checkpoint = classifier.local_checkpoint
    monkeypatch.setattr(classifier, "local_checkpoint", spy)
    docs, labels = _fixture_docs()
    df = spark.createDataFrame(
        [(k, t, labels[k]) for k, t in docs], "doc_id long, text string, lab boolean"
    )
    with cache_scope():
        weights, params = nb_train(df, "lab")
        (plan,) = materialized
        scored = nb_score(df, weights, params)
        lplan = scored._jdf.queryExecution().logical().toString()
    assert "partial" in plan.lower(), plan
    assert "broadcast" not in lplan.lower(), lplan  # no forced hint
