"""Corpus composition report — the observability aggregate a
training-data pipeline publishes after every build: per-language (or
per-source) document counts, size totals, and an exact integer size
histogram. One partial-agg shuffle; everything integer/exact so the
report is engine-portable and diffable run-to-run.

Histogram buckets are PINNED log2 size classes: bucket =
floor(log2(max(n, 1))) computed as bit_length(n)-1 in exact integer
arithmetic (63 - leading-zeros), so the same document always lands in
the same bucket in any engine.

Reference parity note: mirrors the spirit of the reference's counter
reporting (prds/queue-flow.md metrics) lifted to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_bucket_col(n_col):
    """floor(log2(max(n,1))) via string length of the binary form —
    exact integers end-to-end (bin() -> LPAD-free length), no floating
    log whose last ulp could flip a boundary value."""
    n = F.greatest(n_col.cast("long"), F.lit(1))
    return (F.length(F.conv(n.cast("string"), 10, 2)) - F.lit(1)).cast("long")


def size_bucket_duck_sql(expr: str) -> str:
    """EXACT DuckDB mirror: bit_length of the minimal binary string.
    DuckDB's to_base(n, 2) renders the same minimal binary form."""
    return f"CAST(length(to_base(greatest(CAST({expr} AS BIGINT), 1), 2)) - 1 AS BIGINT)"


def corpus_report(
    df: DataFrame,
    group_col: str = "lang",
    size_col: str = "n_chars",
) -> DataFrame:
    """Per-group totals: (group, n_docs, total_size, min_size, max_size)
    — one shuffle, partial aggregation map-side."""
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(size_col)).cast("long").alias("total_size"),
            F.min(F.col(size_col)).cast("long").alias("min_size"),
            F.max(F.col(size_col)).cast("long").alias("max_size"),
        )
    )


def size_histogram(
    df: DataFrame,
    group_col: str = "lang",
    size_col: str = "n_chars",
) -> DataFrame:
    """(group, size_bucket, n_docs) with pinned log2 buckets."""
    return (
        df.select(
            F.col(group_col).alias("grp"),
            size_bucket_col(F.col(size_col)).alias("size_bucket"),
        )
        .groupBy("grp", "size_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str = "n_chars",
    key_col: str = "doc_id",
    percentiles=(25, 50, 75, 95),
    num_partitions: int = 0,
) -> DataFrame:
    """Exact discrete percentiles of ``value_col``: (pct, value) where
    value is the element at 0-based rank ``(n - 1) * pct // 100`` of
    the (value, key)-sorted corpus — the PINNED integer definition
    (lower discrete quantile), identical in any engine, no
    interpolation whose midpoint convention could differ.

    Scale shape: delegates to :func:`~jarvis_ocr_service_spark.
    functions.packing.global_rank` — the shared two-phase ranking —
    with value as the primary sort (never the 1-task global window;
    that naive window IS the DuckDB oracle). global_rank's returned
    total sizes the rank targets, so there is no separate full-scan
    count; the target join is a broadcast of len(percentiles) rows."""
    from jarvis_ocr_service_spark.functions.packing import global_rank

    spark = df.sparkSession
    pcts = sorted(int(p) for p in percentiles)
    if not pcts or pcts[0] < 0 or pcts[-1] > 100:
        raise ValueError("percentiles must be in [0, 100]")
    ranks, n = global_rank(
        df.select(
            F.col(value_col).cast("long").alias("_v"),
            F.col(key_col).alias("_k"),
        ),
        ["_v", "_k"],
        out_col="_pos",
        num_partitions=num_partitions,
    )
    if n == 0:
        return spark.createDataFrame([], "pct long, value long")
    targets = {p: (n - 1) * p // 100 for p in pcts}
    tgt = spark.createDataFrame(
        [(p, t) for p, t in targets.items()], "pct long, _pos long"
    )
    return ranks.join(F.broadcast(tgt), "_pos").select(
        "pct", F.col("_v").alias("value")
    )


def attribute_table(
    df: DataFrame,
    blocklist,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """The Dolma-style per-document ATTRIBUTE table — the artifact modern
    pipelines materialize once and filter many times (attributes are
    cheap to re-threshold; re-running taggers over 100 TB is not):
    ``(key, n_tokens, lang_guess, quality, n_banned, surprisal)`` —
    every signal from its already-oracled module (textstats' staged
    stats, wordfilter's distinct-blocklist hits, vocab's integer
    unigram surprisal), joined on the key.

    Scale shape: the stats and wordlist columns are map-only; surprisal
    adds its two vocabulary-bounded shuffles; the final assembly is two
    key joins (AQE decides broadcast). Write the result next to the
    corpus and every future filter is a projection + threshold — no
    tagger re-runs."""
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats
    from jarvis_ocr_service_spark.functions.vocab import unigram_surprisal
    from jarvis_ocr_service_spark.functions.wordfilter import wordlist_flags

    stats = with_text_stats(
        df.select(F.col(key_col).alias("key"), F.col(text_col).alias("text")),
        text_col="text",
        stats=("n_tokens", "lang_guess", "quality"),
    ).select("key", "n_tokens", "lang_guess", "quality")
    wl = wordlist_flags(df, blocklist, text_col=text_col, key_col=key_col).select(
        "key", F.col("n_hits").alias("n_banned")
    )
    sur = unigram_surprisal(df, text_col=text_col, key_col=key_col)
    return stats.join(wl, "key").join(sur.select("key", "surprisal"), "key")
