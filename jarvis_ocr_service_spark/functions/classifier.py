"""Quality classification: a quantized multinomial Naive Bayes text
classifier — the sandbox-honest stand-in for the fastText linear
classifiers LLM pipelines use as quality filters (CCNet's wiki-vs-crawl
model, the LLaMA "reference-like" filter, educational-value scorers).
Train on any deterministic boolean label; score = an integer
log-likelihood-ratio sum; ``keep = score >= 0``.

ALL-INTEGER scoring (the repo's no-float-log discipline, the
:func:`~jarvis_ocr_service_spark.functions.vocab.unigram_surprisal`
trick applied per class), so any engine computes identical scores:

    S_side(t) = floor_log2((N_side + V) // (c_side(t) + 1))

is the Laplace-smoothed surprisal of token ``t`` under the ``side``
class LM (c_side = occurrences of t in side docs, N_side = total side
tokens, V = vocabulary size — the +V is Laplace mass). The token weight
and document score are log-likelihood ratios in those floor-log2 units:

    w(t)   = S_neg(t) - S_pos(t)      (positive-evidence tokens > 0)
    prior  = floor_log2((n_docs + 2) // (n_neg + 1))
             - floor_log2((n_docs + 2) // (n_pos + 1))
    score  = prior + sum over the document's token OCCURRENCES of w(t)
    pred   = score >= 0

Unseen tokens at scoring time take the c=0 weight
``w_unseen = floor_log2(N_neg + V) - floor_log2(N_pos + V)``.
Integer quotients keep every intermediate < N + V, so there is NO
overflow envelope to manage — valid unchanged at 10^12-token corpora
(quantization cost: each log term floor-rounds, a <=1-bit per-token
noise floor; the ratio structure is exact).

Scale shape: ONE vocabulary-bounded shuffle for the per-class counts
(map-side partial agg; the counts frame is checkpointed so the scalar
totals and the weights table share one computation), the weights join
the token stream UNHINTED (the decontaminate rule — a corpus-bounded
vocab can exceed broadcast budgets at 10^8+ distinct tokens; AQE
broadcasts when runtime size allows), then one per-doc (key, long) sum
shuffle. Train once, persist the weights frame, score any number of
corpora against it.

Reference parity note: the reference service has no classifier; this is
part of the training-data layer (SURVEY §2 "beyond the reference").
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.report import size_bucket_col
from jarvis_ocr_service_spark.functions.tokens import py_tokens_col as _tokens
from jarvis_ocr_service_spark.plans.caching import local_checkpoint


def nb_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
) -> Tuple[DataFrame, dict]:
    """Train the quantized NB model. ``label_col`` is a boolean column
    (True = positive / keep class). Returns ``(weights, params)``:
    ``weights`` = (token, w) with w the integer log-likelihood-ratio
    weight, ``params`` = {"prior", "w_unseen", "n_pos", "n_neg", "v"}
    — pass both to :func:`nb_score`. Null labels are rejected (a
    silent default would poison the class totals)."""
    lab = F.col(label_col).cast("boolean")
    # doc totals + NULL-label guard in ONE aggregate (the former
    # standalone filter(...).limit(1).count() guard was a full extra
    # eager scan of the training frame per call — on prepare's
    # classifier_reference gate that re-ran the whole gated-corpus plan
    # at plan-build time; r6 ADVICE item)
    dtot = df.agg(
        F.sum(F.when(lab, 1).otherwise(0)).alias("dp"),
        F.count(F.lit(1)).alias("dn"),
        F.sum(F.when(F.col(label_col).isNull(), 1).otherwise(0)).alias("nulls"),
    ).collect()[0]
    if int(dtot.nulls or 0) > 0:
        raise ValueError(f"{label_col} contains NULLs — label every row")
    n_pos, n_docs = int(dtot.dp or 0), int(dtot.dn)
    n_neg = n_docs - n_pos
    toks = df.select(
        lab.alias("_y"), F.explode(_tokens(F.col(text_col))).alias("token")
    )
    counts = local_checkpoint(
        toks.groupBy("token").agg(
            F.sum(F.when(F.col("_y"), 1).otherwise(0)).cast("long").alias("cpos"),
            F.sum(F.when(F.col("_y"), 0).otherwise(1)).cast("long").alias("cneg"),
        )
    )
    tot = counts.agg(
        F.coalesce(F.sum("cpos"), F.lit(0)).alias("np"),
        F.coalesce(F.sum("cneg"), F.lit(0)).alias("nn"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    n_pos_tok, n_neg_tok, v = int(tot.np), int(tot.nn), int(tot.v)

    def _flog2(x: int) -> int:
        return max(int(x), 1).bit_length() - 1

    weights = counts.select(
        "token",
        (
            size_bucket_col(
                F.expr(f"CAST({n_neg_tok + v} AS BIGINT) div (cneg + 1)")
            )
            - size_bucket_col(
                F.expr(f"CAST({n_pos_tok + v} AS BIGINT) div (cpos + 1)")
            )
        )
        .cast("long")
        .alias("w"),
    )
    params = {
        "prior": _flog2((n_docs + 2) // (n_neg + 1))
        - _flog2((n_docs + 2) // (n_pos + 1)),
        "w_unseen": _flog2(n_neg_tok + v) - _flog2(n_pos_tok + v),
        "n_pos": n_pos,
        "n_neg": n_neg,
        "v": v,
    }
    return weights, params


def nb_score(
    df: DataFrame,
    weights: DataFrame,
    params: dict,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Score every document against a trained model: ``(key, score,
    pred)`` — score = prior + sum of per-occurrence token weights
    (unseen tokens take ``params["w_unseen"]``), pred = score >= 0.
    Every input row is reported (token-less docs score the bare
    prior — the report-don't-drop rule)."""
    prior = int(params["prior"])
    w_unseen = int(params["w_unseen"])
    toks = df.select(
        F.col(key_col).alias("key"),
        F.explode(_tokens(F.col(text_col))).alias("token"),
    )
    per_doc = (
        toks.join(weights, "token", "left")
        .groupBy("key")
        .agg(
            F.sum(F.coalesce(F.col("w"), F.lit(w_unseen)))
            .cast("long")
            .alias("_ws")
        )
    )
    return (
        df.select(F.col(key_col).alias("key"))
        .join(per_doc, "key", "left")
        .select(
            "key",
            (F.coalesce(F.col("_ws"), F.lit(0)) + F.lit(prior))
            .cast("long")
            .alias("score"),
            (F.coalesce(F.col("_ws"), F.lit(0)) + F.lit(prior) >= 0).alias(
                "pred"
            ),
        )
    )


def nb_quality_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Train-and-score convenience over one corpus (the CCNet shape:
    label a slice you trust — e.g. wiki-like sources — and score
    everything). Returns ``(key, score, pred)``; the checkpointed training
    counts belong to the caller's ``cache_scope`` (plans/caching)."""
    weights, params = nb_train(df, label_col, text_col=text_col)
    return nb_score(df, weights, params, text_col=text_col, key_col=key_col)
