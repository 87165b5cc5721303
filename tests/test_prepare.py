"""Composed training-data preparation pipeline."""

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.plans.caching import cache_scope, release_cached
from jarvis_ocr_service_spark.plans.prepare import prepare_training_data
from jarvis_ocr_service_spark.sources.pages import synthesize_pages


def test_prepare_filters_and_dedups(spark):
    pages = synthesize_pages(spark, 100, num_partitions=4)
    # duplicate the whole corpus under new urls -> near/exact dups abound
    dup = pages.withColumn("url", F.concat(F.col("url"), F.lit("-copy")))
    both = pages.unionByName(dup)

    corpus = prepare_training_data(both, min_quality=0.4, near_dup_threshold=0.85)
    rows = corpus.collect()
    urls = [r.url for r in rows]
    texts = [r.text for r in rows]

    # invalid classes (empty/pdf-less/garbled/short/png) never survive
    assert all(r.n_tokens >= 10 and r.quality >= 0.4 for r in rows)
    # exact dup collapse: no duplicated text bodies remain
    assert len(texts) == len(set(texts))
    # the -copy twins were dropped (original url sorts first)
    assert not any(u.endswith("-copy") for u in urls)
    # valid originals survived
    assert len(rows) > 0


def test_prepare_without_near_dup_stage(spark):
    pages = synthesize_pages(spark, 60, num_partitions=2)
    corpus = prepare_training_data(pages, near_dup_threshold=None)
    assert corpus.count() > 0
    assert set(corpus.columns) == {"url", "text", "n_tokens", "lang_guess", "quality"}


def test_prepare_releases_cached_blocks(spark, rdds, tmp_path):
    """Cache hygiene: when the action's scope closes, the LSH plan's
    persisted intermediates must not linger in the session (repeated
    prepare runs would otherwise accumulate cached blocks)."""
    before = rdds()
    with cache_scope():
        corpus = prepare_training_data(synthesize_pages(spark, 100, num_partitions=4))
        corpus.write.mode("overwrite").parquet(str(tmp_path / "corpus"))
        assert rdds() > before  # it really was persisted during the action
    assert rdds() == before  # all released


def test_prepare_unscoped_release_cached(spark, rdds, tmp_path):
    """perfbench's contract: with no scope open, release_cached after the
    write frees every frame prepare persisted."""
    release_cached(None)  # start from an empty session default
    before = rdds()
    corpus = prepare_training_data(synthesize_pages(spark, 100, num_partitions=4))
    corpus.write.mode("overwrite").parquet(str(tmp_path / "corpus"))
    assert rdds() > before
    assert release_cached(corpus) >= 1
    assert rdds() == before
    assert release_cached(corpus) == 0  # idempotent


def test_prepare_failure_mid_plan_leaks_nothing(spark, rdds, monkeypatch):
    """An exception after the gates have checkpointed their frames (the
    gate input, surprisal counts, the rank frame, NB counts) leaves the
    count where it was once the scope exits."""
    from jarvis_ocr_service_spark.functions import classifier

    held = []

    def boom(*args, **kwargs):
        held.append(rdds())
        raise RuntimeError("injected mid-plan failure")

    monkeypatch.setattr(classifier, "nb_score", boom)
    ref = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    before = rdds()
    with pytest.raises(RuntimeError, match="injected"), cache_scope():
        prepare_training_data(
            synthesize_pages(spark, 60, num_partitions=2),
            near_dup_threshold=None,
            keep_ppl_buckets=("head", "middle"),
            classifier_reference=ref,
        )
    assert held and held[0] >= before + 3  # the failure really came mid-plan
    assert rdds() == before


def test_prepare_hygiene_stages(spark):
    """Wiring of the optional hygiene tail: benchmark decontamination
    drops exactly the gram-colliding survivors; redact_pii is a no-op on
    a PII-free corpus (the rules themselves are pinned in test_pii)."""
    pages = synthesize_pages(spark, 60, num_partitions=2)
    base = prepare_training_data(pages, near_dup_threshold=None)
    rows = base.orderBy("url").collect()
    victim = next(r for r in rows if r.n_tokens >= 13)

    bench = spark.createDataFrame([(victim.text,)], "text string")
    cleaned = prepare_training_data(
        pages, near_dup_threshold=None, benchmark=bench, redact_pii=True
    )
    got = cleaned.orderBy("url").collect()
    got_urls = {r.url for r in got}
    assert victim.url not in got_urls  # gram collision -> dropped
    # survivors: same rows as base minus the contaminated one(s), and the
    # PII pass left PII-free text byte-identical
    base_by_url = {r.url: r.text for r in rows}
    for r in got:
        assert r.text == base_by_url[r.url]
    dropped = {r.url for r in rows} - got_urls
    assert victim.url in dropped and len(dropped) >= 1


def test_prepare_blocklist_and_line_dedup(spark):
    """Wiring of the r5 hygiene options: a blocklist word drops its
    documents before dedup; line_dedup_max_count removes corpus-repeated
    lines from survivors while unique lines ride through unchanged."""
    from pyspark.sql import functions as F

    pages = synthesize_pages(spark, 60, num_partitions=2)
    base = prepare_training_data(pages, near_dup_threshold=None)
    rows = base.orderBy("url").collect()
    # pick a token appearing in SOME but not all survivor texts
    tokens_by_url = {r.url: set((r.text or "").lower().split()) for r in rows}
    all_tokens = set().union(*tokens_by_url.values())
    word = next(
        t for t in sorted(all_tokens)
        if 0 < sum(t in s for s in tokens_by_url.values()) < len(rows)
    )
    blocked = prepare_training_data(
        pages, near_dup_threshold=None, blocklist=[word]
    )
    got_urls = {r.url for r in blocked.collect()}
    want_urls = {u for u, s in tokens_by_url.items() if word not in s}
    assert got_urls == want_urls

    # line dedup vs the brute-force pinned rule over the base corpus
    # (some fixture classes carry real newlines, so lines repeat both
    # across docs and within them)
    from collections import Counter

    line_counts = Counter()
    for r in rows:
        for line in (r.text or "").split("\n"):
            if line:
                line_counts[line] += 1
    ld = prepare_training_data(
        pages, near_dup_threshold=None, line_dedup_max_count=1
    )
    got = {r.url: r.text for r in ld.collect()}
    assert set(got) == set(tokens_by_url)  # no rows dropped, text rewritten
    changed = 0
    for r in rows:
        want = "\n".join(
            line
            for line in (r.text or "").split("\n")
            if line == "" or line_counts[line] <= 1
        )
        assert got[r.url] == want, r.url
        changed += want != r.text
    assert changed > 0  # the rule actually bit somewhere


def test_prepare_bucket_mode_matches_pair_mode_on_synthetic(spark):
    """near_dup_mode='buckets' (linear-edge CC) collapses the synthetic
    corpus at least as aggressively as the exact pair route here —
    the synthetic near-dups are template twins (huge estimated Jaccard),
    exactly the mass the bucket route exists for — and keeps the same
    schema and exact-dup guarantees."""
    pages = synthesize_pages(spark, 100, num_partitions=4)
    dup = pages.withColumn("url", F.concat(F.col("url"), F.lit("-copy")))
    both = pages.unionByName(dup)

    pair_corpus = prepare_training_data(
        both, min_quality=0.4, near_dup_threshold=0.85
    )
    bucket_corpus = prepare_training_data(
        both, min_quality=0.4, near_dup_threshold=0.85,
        near_dup_mode="buckets",
    )
    pair_urls = {r.url for r in pair_corpus.select("url").collect()}
    bucket_rows = bucket_corpus.collect()
    bucket_urls = {r.url for r in bucket_rows}
    assert bucket_urls  # something survives
    assert not any(u.endswith("-copy") for u in bucket_urls)
    texts = [r.text for r in bucket_rows]
    assert len(texts) == len(set(texts))  # exact-dup collapse intact
    # bucket transitivity is coarser: it can only merge MORE than the
    # verified pair graph on this corpus, never less
    assert bucket_urls <= pair_urls


def test_prepare_rejects_unknown_near_dup_mode(spark):
    """A mode typo fails before any job runs — the near-dup route
    materializes `exact`, which would run the whole extraction first."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "prepare-near-dup-mode-check"
    sc.setJobGroup(group, "jobs prepare_training_data submits")
    try:
        with pytest.raises(ValueError, match="near_dup_mode"):
            prepare_training_data(
                synthesize_pages(spark, 10), near_dup_mode="nope"
            )
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)


def test_prepare_ppl_bucket_gate(spark):
    """keep_ppl_buckets keeps exactly the surprisal_buckets head/middle
    tertiles of the surviving corpus (the CCNet keep-set)."""
    from jarvis_ocr_service_spark.functions.vocab import surprisal_buckets

    pages = synthesize_pages(spark, 60, num_partitions=2)
    with cache_scope():
        base = prepare_training_data(pages, near_dup_threshold=None)
        sb = surprisal_buckets(base, text_col="text", key_col="url")
        expected_keep = {
            r.key for r in sb.filter("bucket_name != 'tail'").collect()
        }
        gated = prepare_training_data(
            pages, near_dup_threshold=None, keep_ppl_buckets=("head", "middle")
        )
        got = {r.url for r in gated.collect()}
        n_base = base.count()
    assert got == expected_keep
    # equal-population tertiles: the gate keeps ~2/3
    assert abs(len(got) - 2 * n_base / 3) <= 2


def test_prepare_rejects_unknown_ppl_bucket(spark):
    with pytest.raises(ValueError, match="keep_ppl_buckets"):
        prepare_training_data(
            synthesize_pages(spark, 10),
            near_dup_threshold=None,
            keep_ppl_buckets=("Head",),
        )


def test_prepare_classifier_gate(spark):
    """classifier_reference trains reference-vs-corpus NB and keeps the
    reference-like documents; a reference matching the corpus's own
    common vocabulary keeps plenty, and dropped docs score negative."""
    from jarvis_ocr_service_spark.functions.classifier import nb_score, nb_train

    pages = synthesize_pages(spark, 60, num_partitions=2)
    with cache_scope():
        base = prepare_training_data(pages, near_dup_threshold=None)
        # reference corpus: the first 10 surviving docs verbatim
        ref_texts = [r.text for r in base.orderBy("url").limit(10).collect()]
        ref = spark.createDataFrame([(t,) for t in ref_texts], "text string")

        gated = prepare_training_data(
            pages, near_dup_threshold=None, classifier_reference=ref
        )
        got = {r.url for r in gated.collect()}
        # mirror the gate by hand on the base corpus
        train = ref.withColumn("_ref", F.lit(True)).unionByName(
            base.select("text").withColumn("_ref", F.lit(False))
        )
        weights, params = nb_train(train, "_ref")
        expected = {
            r.key
            for r in nb_score(base, weights, params, key_col="url")
            .filter("pred")
            .collect()
        }
        n_base = base.count()
    assert got == expected
    assert 0 < len(got) < n_base  # the gate bites both ways


def test_prepare_gates_release_cached_blocks(spark, rdds, tmp_path):
    """The LM-quality gates' checkpointed frames (their input corpus,
    surprisal counts, the global-rank ranged frame, NB counts) all belong to
    the action's scope — zero retained blocks once it closes (the
    review-pass leak fix)."""
    pages = synthesize_pages(spark, 60, num_partitions=2)
    ref = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    before = rdds()
    with cache_scope():
        corpus = prepare_training_data(
            pages,
            near_dup_threshold=None,
            keep_ppl_buckets=("head", "middle"),
            classifier_reference=ref,
        )
        corpus.write.mode("overwrite").parquet(str(tmp_path / "gated"))
        assert rdds() >= before + 3  # gate input, surprisal, rank, nb
    assert rdds() == before


def test_prepare_returns_a_plan_of_checkpoint_leaves(spark):
    """The builder's own actions read checkpoints, so the returned plan
    reads a few one-leaf frames, not the whole extraction-to-gate lineage
    copied under every cached frame (hundreds of leaves)."""
    pages = synthesize_pages(spark, 120, num_partitions=4)
    with cache_scope():
        corpus = prepare_training_data(
            pages,
            near_dup_threshold=0.85,
            line_dedup_max_count=50,
            keep_ppl_buckets=("head", "middle"),
            redact_pii=True,
            blocklist=["promo", "nosuchword"],
        )
        leaves = corpus._jdf.queryExecution().logical().collectLeaves().size()
        assert leaves <= 4, corpus._jdf.queryExecution().logical().treeString()
        assert corpus.count() > 0
