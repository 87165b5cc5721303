"""End-to-end training-data preparation: the composed pipeline a 100-TB
corpus actually runs.

    pages -> extraction cascade -> keep valid text
          -> quality gate (lang-id + quality score + token bounds)
             [these three are quality_gated, which stream-prepare's
             micro-batches call too]
          -> [optional] banned-wordlist drop (functions/wordfilter)
          -> exact dedup (content digest)
          -> near-dup collapse (MinHash-LSH, keep min url per cluster)
          -> [optional] corpus-level line dedup (functions/dedup.dedup_lines)
          -> [optional] CCNet LM-quality gates: perplexity-tertile keep-set
             (vocab.surprisal_buckets) and/or reference-trained NB
             classifier (functions/classifier)
          -> [optional] benchmark decontamination (functions/contamination)
          -> [optional] PII redaction (functions/pii)
          -> clean corpus (url, text, lang_guess, quality, n_tokens)

Shuffle budget: extraction is a pure map; the quality gate and wordlist
drop are map-side; exact dedup is one shuffle on a 16-byte digest;
near-dup adds the banded self-join on already-deduped survivors (a
small fraction of input); line dedup adds a line-level partial-agg
shuffle + anti-join over the surviving set; PII redaction is a codegen
projection and decontamination an AQE-decided anti-join — the hygiene
tail runs AFTER dedup so the expensive text passes touch the smallest
surviving set.

Materialization boundaries (plans/caching's persist-vs-checkpoint rule):
the builder runs jobs of its own only when a stage reads a frame with an
action, and each such frame is a local checkpoint, so every later plan
reads it as one leaf. With near-dup collapse, ``exact`` is checkpointed
(the cluster round-trips and the final anti-join all read it); with the
LM-quality gates, the post-line-dedup corpus is checkpointed once (their
keep-set collects and the returned plan read it). A recipe with neither
builds no job and returns a fully lazy plan.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.plans.caching import local_checkpoint

# token bounds of the corpus gate (quality_gated)
MIN_TOKENS = 10
MAX_TOKENS = 100_000


def quality_gated(
    pages: DataFrame, min_quality: float = 0.5, pdf_mode: str = "parse"
) -> DataFrame:
    """pages -> (url, text, n_tokens, lang_guess, quality): the corpus gate
    shared by the batch and streaming prepare pipelines — extraction
    cascade, keep valid text, then token bounds and the quality score."""
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

    extracted = run_pipeline(pages, pdf_mode=pdf_mode).filter(F.col("is_valid"))
    # token split staged once (with_text_stats), not re-split per stat
    return with_text_stats(
        extracted.select("url", "text"),
        stats=("n_tokens", "lang_guess", "quality"),
    ).filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("n_tokens") <= MAX_TOKENS)
        & (F.col("quality") >= min_quality)
    )


def prepare_training_data(
    pages: DataFrame,
    min_quality: float = 0.5,
    near_dup_threshold: Optional[float] = 0.85,
    pdf_mode: str = "parse",
    redact_pii: bool = False,
    benchmark: Optional[DataFrame] = None,
    blocklist=None,
    line_dedup_max_count: int = 0,
    near_dup_mode: str = "pairs",
    keep_ppl_buckets: Optional[tuple] = None,
    classifier_reference: Optional[DataFrame] = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> deduplicated clean corpus.

    ``redact_pii=True`` rewrites ``text`` through functions/pii's pinned
    rule chain (a pure projection — off by default to preserve the
    byte-identity contract with the extraction goldens). ``benchmark``
    (a DataFrame with a ``text`` column) enables 13-gram decontamination:
    corpus rows sharing any 13-token gram with it are dropped
    (functions/contamination). ``blocklist`` (an iterable of
    banned words) drops documents containing any of them BEFORE dedup —
    a codegen filter, C4's cleanup rule. ``line_dedup_max_count > 0``
    additionally removes every line repeated corpus-wide more than that
    many times from the surviving documents (dedup_lines — the
    C4/RefinedWeb boilerplate-line rule; n_tokens/quality reflect the
    pre-line-dedup text, as in those pipelines).

    ``near_dup_mode`` selects the collapse strategy:
      * ``"pairs"`` (default) — banded LSH candidate pairs, EXACT
        shingle-Jaccard verification at ``near_dup_threshold``, then
        connected components over the verified pair graph. Exact
        semantics, but the pair graph is quadratic in clique size: a
        templated corpus with w-document boilerplate cliques
        materializes ~w²/2 edges per clique (a 1M-page run exhausted
        75 GB of shuffle scratch in the CC phase; 300k fit).
      * ``"buckets"`` — dedup.minhash_bucket_clusters: member→bucket-min
        edges (≤ docs × bands total, linear regardless of clique
        shape), signature-ESTIMATED Jaccard trim at the threshold.
        Coarser semantics (bucket transitivity + estimator, see its
        docstring) — the trade every trillion-row pipeline makes; use
        it when the corpus has template-heavy mass.

    CCNet-style LM-quality tail (both off by default):
    ``keep_ppl_buckets`` — e.g. ``("head", "middle")`` — buckets the
    SURVIVING corpus by integer per-token unigram surprisal
    (vocab.surprisal_buckets, equal-population tertiles) and keeps only
    the named buckets; CCNet keeps head(+middle) per language — here
    the bucketing is corpus-global (the per-language refinement is a
    groupBy away; documented, not hidden). ``classifier_reference`` —
    a trusted corpus (any DataFrame with a ``text`` column) — trains
    the quantized NB classifier (functions/classifier) with
    reference-vs-corpus labels, the literal CCNet wiki-vs-crawl
    design, and keeps the corpus documents scored reference-like
    (pred == score >= 0). Gates run on the post-line-dedup text (the
    bytes that ship), before decontamination/PII.

    The frames this persists or checkpoints (``exact``, the gates' input,
    the LSH shingles, the gates' counts) belong to the caller's
    ``cache_scope`` (plans/caching): open one around the consuming action,
    or call ``release_cached`` after it."""
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_lsh_pairs,
        text_digest,
    )

    if keep_ppl_buckets:
        # validate against the 3-bucket domain up front (the CLI already
        # does; the library API is a production entry point too and an
        # unchecked typo like ('Head',) would silently shrink or empty
        # the output corpus — r6 ADVICE item)
        bad = set(keep_ppl_buckets) - {"head", "middle", "tail"}
        if bad:
            raise ValueError(
                f"unknown keep_ppl_buckets {sorted(bad)} — "
                "valid names: head, middle, tail"
            )
    # checked before any job runs: the near-dup route materializes `exact`
    if near_dup_mode not in ("pairs", "buckets"):
        raise ValueError(
            f"near_dup_mode must be 'pairs' or 'buckets', got {near_dup_mode!r}"
        )

    scored = quality_gated(pages, min_quality=min_quality, pdf_mode=pdf_mode)
    if blocklist:
        from jarvis_ocr_service_spark.functions.wordfilter import (
            drop_by_wordlist,
        )

        scored = drop_by_wordlist(scored, blocklist, text_col="text")

    # exact dedup: keep the lexicographically-first url per digest — a
    # min_by aggregate (one shuffle, partial agg map-side, no per-group
    # sort of full-text rows like a Window would need)
    cols = scored.columns
    exact = (
        scored.groupBy(text_digest(F.col("text")).alias("_digest"))
        .agg(F.min_by(F.struct(*cols), F.col("url")).alias("_row"))
        .select(*[F.col(f"_row.{c}").alias(c) for c in cols])
    )

    def finish(corpus: DataFrame) -> DataFrame:
        # line dedup FIRST in the tail: decontamination grams and PII
        # spans should be evaluated on the text that actually ships
        if line_dedup_max_count:
            from jarvis_ocr_service_spark.functions.dedup import dedup_lines

            deduped_text = dedup_lines(
                corpus, text_col="text", key_col="url",
                max_count=line_dedup_max_count,
            ).withColumnRenamed("key", "url").withColumnRenamed("text", "_ld")
            corpus = (
                corpus.drop("text")
                .join(deduped_text, "url")
                .withColumnRenamed("_ld", "text")
            )
        # CCNet-style LM-quality gates on the shipping text: perplexity
        # tertile keep-set, then the reference-trained NB classifier. Both
        # read the corpus with actions at plan-build time, so it is
        # materialized once here and every gate plan starts from one leaf.
        if keep_ppl_buckets or classifier_reference is not None:
            corpus = local_checkpoint(corpus)
        if keep_ppl_buckets:
            from jarvis_ocr_service_spark.functions.vocab import (
                surprisal_buckets,
            )

            sb = surprisal_buckets(corpus, text_col="text", key_col="url")
            keep = sb.filter(
                F.col("bucket_name").isin(*keep_ppl_buckets)
            ).select(F.col("key").alias("url"))
            corpus = corpus.join(keep, "url", "left_semi")
        if classifier_reference is not None:
            from jarvis_ocr_service_spark.functions.classifier import (
                nb_score,
                nb_train,
            )

            train = (
                classifier_reference.select(F.col("text"))
                .withColumn("_ref", F.lit(True))
                .unionByName(
                    corpus.select(F.col("text")).withColumn(
                        "_ref", F.lit(False)
                    )
                )
            )
            # nb_train runs its two bounded driver aggregates here (at
            # plan-build time) and leaves its counts frame checkpointed
            weights, params = nb_train(train, "_ref")
            keep = (
                nb_score(corpus, weights, params, key_col="url")
                .filter(F.col("pred"))
                .select(F.col("key").alias("url"))
            )
            corpus = corpus.join(keep, "url", "left_semi")
        # decontaminate BEFORE redaction: collision grams must be
        # matched against the original bytes, not [EMAIL]-rewritten ones
        if benchmark is not None:
            from jarvis_ocr_service_spark.functions.contamination import (
                decontaminate,
            )

            corpus = decontaminate(
                corpus, benchmark, text_col="text", key_col="url"
            )
        if redact_pii:
            from jarvis_ocr_service_spark.functions.pii import redact_pii_col

            corpus = corpus.withColumn("text", redact_pii_col(F.col("text")))
        return corpus

    if not near_dup_threshold:
        # the gate input checkpoint in `finish` is this route's one
        # materialization (line dedup's reads of `exact` inside it share
        # one extraction through exchange reuse); ungated stays lazy
        return finish(exact)

    # near-dup collapse: true connected components over the verified pair
    # graph (dup_clusters) — every transitive chain collapses to its
    # smallest member, exact for clusters of any shape (greedy pair-drop
    # would over-keep on A-B, B-C chains where A,C aren't directly paired)
    from jarvis_ocr_service_spark.functions.dedup import dup_clusters

    # the cluster routes iterate with actions, and the final anti-join
    # reads `exact` again — materialize it so extraction runs once
    exact = local_checkpoint(exact)
    if near_dup_mode == "buckets":
        from jarvis_ocr_service_spark.functions.dedup import (
            minhash_bucket_clusters,
        )

        clusters = minhash_bucket_clusters(
            exact, text_col="text", key_col="url",
            verify_threshold=near_dup_threshold,
        )
    else:
        # max_bucket: hot-band guard (minhash_lsh_pairs docstring) — without
        # it a heavy shingle atom (templated boilerplate) makes the candidate
        # join quadratic; 1000 keeps any single bucket's pair contribution
        # under ~500k while real near-dup clusters (far smaller) are untouched
        pairs = minhash_lsh_pairs(
            exact, text_col="text", key_col="url",
            verify_threshold=near_dup_threshold, max_bucket=1000,
        )
        clusters = dup_clusters(pairs, key_a="key_a", key_b="key_b")
    losers = (
        clusters.filter(F.col("key") != F.col("cluster"))
        .select(F.col("key").alias("url"))
    )
    return finish(exact.join(losers, "url", "left_anti"))
