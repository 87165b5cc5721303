"""Corpus report: exact aggregates, pinned log2 buckets, DuckDB parity."""

import duckdb

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.report import (
    corpus_report,
    exact_quantiles,
    size_bucket_col,
    size_bucket_duck_sql,
    size_histogram,
)


def test_size_bucket_boundaries(spark):
    vals = [0, 1, 2, 3, 4, 7, 8, 1023, 1024, 1 << 40]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {r.n: r.b for r in df.select("n", size_bucket_col(F.col("n")).alias("b")).collect()}
    want = {v: max(v, 1).bit_length() - 1 for v in vals}
    assert got == want
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT n, {size_bucket_duck_sql('n')} FROM (SELECT unnest(?::BIGINT[]) AS n)",
        [vals],
    ).fetchall()
    assert {n: b for n, b in rows} == want


def test_exact_quantiles_pinned_rule_and_brute_force(spark):
    import pytest

    # values with duplicates + a deterministic key tiebreak
    vals = [(i, (i * 37) % 50) for i in range(301)]
    df = spark.createDataFrame(vals, "doc_id long, n_chars long")
    got = {
        r.pct: r.value
        for r in exact_quantiles(df, "n_chars", "doc_id", (0, 25, 50, 75, 95, 100)).collect()
    }
    srt = sorted(v for _, v in vals)
    n = len(srt)
    want = {p: srt[(n - 1) * p // 100] for p in (0, 25, 50, 75, 95, 100)}
    assert got == want
    assert got[0] == min(srt) and got[100] == max(srt)
    # empty input -> empty result; bad percentile -> error
    empty = spark.createDataFrame([], "doc_id long, n_chars long")
    assert exact_quantiles(empty).count() == 0
    with pytest.raises(ValueError):
        exact_quantiles(df, percentiles=(101,))


def test_corpus_report_and_histogram(spark):
    rows = [("en", 10), ("en", 1000), ("fr", 7), ("fr", 9), ("fr", 8)]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    rep = {r.grp: (r.n_docs, r.total_size, r.min_size, r.max_size)
           for r in corpus_report(df).collect()}
    assert rep == {"en": (2, 1010, 10, 1000), "fr": (3, 24, 7, 9)}
    hist = {(r.grp, r.size_bucket): r.n_docs for r in size_histogram(df).collect()}
    assert hist == {("en", 3): 1, ("en", 9): 1, ("fr", 2): 1, ("fr", 3): 2}


def test_attribute_table_composes_module_outputs(spark, rdds):
    """Each attribute column equals its source module's standalone
    output — the table is assembly, never a fork; surprisal's counts
    cache belongs to the caller's scope."""
    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.functions.report import attribute_table
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats
    from jarvis_ocr_service_spark.functions.vocab import unigram_surprisal
    from jarvis_ocr_service_spark.functions.wordfilter import wordlist_flags
    from jarvis_ocr_service_spark.plans.caching import cache_scope

    docs = [
        (0, "the quick stream of data flows fast"),
        (1, "vector vector nosuchword"),
        (2, ""),
        (3, None),
        (4, "plain words without any flags here at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    before = rdds()
    with cache_scope():
        at = attribute_table(df, ["vector", "stream", "nosuchword"])
        rows = {r.key: r for r in at.collect()}
        assert rdds() > before  # the surprisal counts cache
    assert rdds() == before
    assert set(rows) == {0, 1, 2, 3, 4}

    st = {
        r.key: r
        for r in with_text_stats(
            df.select(F.col("doc_id").alias("key"), "text"),
            stats=("n_tokens", "lang_guess", "quality"),
        ).collect()
    }
    wl = {r.key: r.n_hits for r in wordlist_flags(df, ["vector", "stream", "nosuchword"]).collect()}
    with cache_scope():
        sv = {r.key: r.surprisal for r in unigram_surprisal(df).collect()}
    for k in rows:
        assert rows[k].n_tokens == st[k].n_tokens
        assert rows[k].lang_guess == st[k].lang_guess
        assert rows[k].quality == st[k].quality
        assert rows[k].n_banned == wl[k]
        assert rows[k].surprisal == sv[k]
    assert rows[1].n_banned == 2  # distinct blocklist words, repeats once
