"""Structured-Streaming form: drains backlog, exactly-once across restarts."""

from jarvis_ocr_service_spark.sources.pages import synthesize_pages
from jarvis_ocr_service_spark.streaming.stream import run_stream


def test_stream_drains_and_is_exactly_once(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = synthesize_pages(spark, 40, num_partitions=2)
    first.write.mode("overwrite").parquet(pages_dir)

    q = run_stream(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 40
    assert got.select("url").distinct().count() == 40

    # append new files (disjoint url range); restart -> only new rows processed
    more = synthesize_pages(spark, 60, num_partitions=2).filter(
        "cast(regexp_extract(url, 'page-(\\\\d+)$', 1) as int) >= 40"
    )
    more.write.mode("append").parquet(pages_dir)
    n_new = more.count()

    q2 = run_stream(spark, pages_dir, out, ckpt)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 40 + n_new
    assert final.select("url").distinct().count() == 40 + n_new  # no reprocessing

    # restart with no new data -> no-op
    q3 = run_stream(spark, pages_dir, out, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 40 + n_new


def test_stream_prepare_dedups_then_extracts_and_gates(spark, tmp_path):
    """Streaming prepare: cross-micro-batch payload dedup feeds the
    extraction cascade + quality gate; a recrawl drop adds ZERO corpus
    rows, and the surviving rows match the batch pipeline's gate."""
    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.sources.pages import synthesize_pages
    from jarvis_ocr_service_spark.streaming.stream import run_stream_prepare

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    base = synthesize_pages(spark, 60, num_partitions=2).cache()
    base.write.mode("overwrite").parquet(src)
    q = run_stream_prepare(spark, src, out, ck, watermark="10 days")
    q.awaitTermination(180)
    corpus1 = spark.read.parquet(out)
    n1 = corpus1.count()
    # classes 0,1,2,6,8 pass extraction+gate (class 7 fails min_tokens,
    # 3/4/5/9 fail extraction) -> 5 of 10 classes; class-7 payloads are
    # all identical so the digest dedup folds them before extraction
    assert n1 == 30, n1
    # `batch` is the idempotency partition key (_write_batch_idempotent)
    assert set(corpus1.columns) == {
        "url", "text", "n_tokens", "lang_guess", "quality", "batch"
    }
    assert corpus1.filter(F.col("quality") < 0.5).count() == 0
    # the same gate as the batch pipeline: on these 60 pages (distinct
    # payloads and texts once class 7 is gated out) stream and batch
    # prepare keep the same rows
    from jarvis_ocr_service_spark.plans.prepare import prepare_training_data

    def url_text(df):
        return sorted((r.url, r.text) for r in df.select("url", "text").collect())

    assert url_text(corpus1) == url_text(
        prepare_training_data(base, near_dup_threshold=None)
    )

    # recrawl: identical payloads under new urls -> all deduped, 0 new rows
    base.withColumn("url", F.concat(F.col("url"), F.lit("-re"))).write.mode(
        "append"
    ).parquet(src)
    q2 = run_stream_prepare(spark, src, out, ck, watermark="10 days")
    q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == n1


def test_stream_prepare_neardup_against_committed(spark, tmp_path):
    """r4 verdict item 4: with neardup_against_committed=True, a
    recrawled NEAR-duplicate (3/4-truncated twin — new url, new payload
    digest, so exact dedup cannot catch it) arriving in a later
    micro-batch adds ZERO corpus rows, while genuinely new pages in the
    same micro-batch still land."""
    import pandas as pd

    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.schema import PAGES_SCHEMA
    from jarvis_ocr_service_spark.sources.pages import (
        _html_page,
        make_page,
        synthesize_pages,
    )
    from jarvis_ocr_service_spark.streaming.stream import run_stream_prepare

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    kwargs = dict(
        watermark="10 days",
        neardup_against_committed=True,
        neardup_threshold=0.6,
    )

    synthesize_pages(spark, 40, num_partitions=2).write.mode(
        "overwrite"
    ).parquet(src)
    q = run_stream_prepare(spark, src, out, ck, **kwargs)
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # batch 2: twins of the clean (class-0) pages — article truncated to
    # its first 3/4 words — plus genuinely new clean pages (other seed)
    twin_rows = []
    for i in range(0, 40, 10):  # class-0 indices
        p = make_page(i)
        words = p["text"].split()
        twin_text = " ".join(words[: 3 * len(words) // 4])
        twin_rows.append(
            {
                "url": p["url"] + "-re",
                "warc_ts": p["warc_ts"],
                "html": _html_page(f"Doc {i} re", [twin_text]),
                "text": twin_text,
                "lang": p["lang"],
            }
        )
    fresh_rows = [make_page(i, seed=77) for i in range(1000, 1040, 10)]
    for r in fresh_rows:
        r["url"] += "-new"
    batch2 = spark.createDataFrame(
        pd.DataFrame(twin_rows + fresh_rows), schema=PAGES_SCHEMA
    )
    batch2.write.mode("append").parquet(src)

    q2 = run_stream_prepare(spark, src, out, ck, **kwargs)
    q2.awaitTermination(180)
    corpus = spark.read.parquet(out)
    got_urls = {r.url for r in corpus.select("url").collect()}
    # no twin landed; every fresh page did
    assert not any(u.endswith("-re") for u in got_urls), got_urls
    fresh_expected = {r["url"] for r in fresh_rows}
    assert fresh_expected <= got_urls
    assert corpus.count() == n1 + len(fresh_rows)
    # the _bands sidecar holds (k, sh, sig) for exactly the committed
    # survivors — the corpus side of the next batch's near-dup join
    # reads it instead of re-signaturing committed text
    bands = spark.read.parquet(f"{out}/_bands")
    assert set(bands.columns) == {"k", "sh", "sig", "batch"}
    assert {r.k for r in bands.select("k").collect()} == got_urls


def test_neardup_backfills_preflag_batches(spark, tmp_path):
    """r5 ADVICE: batches committed while neardup_against_committed was
    OFF have no _bands sidecar rows. Turning the flag on must not leave
    them silently outside the comparison set forever — the run detects
    them, warns, and BACKFILLS their sidecar partitions by
    re-signaturing committed text once, after which near-dups of those
    pre-flag docs are dropped."""
    import warnings

    import pandas as pd
    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.schema import PAGES_SCHEMA
    from jarvis_ocr_service_spark.sources.pages import (
        _html_page,
        make_page,
        synthesize_pages,
    )
    from jarvis_ocr_service_spark.streaming.stream import run_stream_prepare

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    # phase 1: flag OFF — batches commit with NO sidecar
    synthesize_pages(spark, 40, num_partitions=2).write.mode(
        "overwrite"
    ).parquet(src)
    q = run_stream_prepare(spark, src, out, ck, watermark="10 days")
    q.awaitTermination(180)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    import os

    assert not os.path.exists(f"{out}/_bands")

    # phase 2: flag ON — twins of phase-1 docs must be caught even
    # though phase-1 batches predate the sidecar
    twin_rows = []
    for i in range(0, 40, 10):  # class-0 indices
        p = make_page(i)
        words = p["text"].split()
        twin_text = " ".join(words[: 3 * len(words) // 4])
        twin_rows.append(
            {
                "url": p["url"] + "-re",
                "warc_ts": p["warc_ts"],
                "html": _html_page(f"Doc {i} re", [twin_text]),
                "text": twin_text,
                "lang": p["lang"],
            }
        )
    spark.createDataFrame(
        pd.DataFrame(twin_rows), schema=PAGES_SCHEMA
    ).write.mode("append").parquet(src)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        q2 = run_stream_prepare(
            spark, src, out, ck, watermark="10 days",
            neardup_against_committed=True, neardup_threshold=0.6,
        )
        q2.awaitTermination(180)
    msgs = [str(x.message) for x in w]
    assert any("backfill" in m for m in msgs), msgs

    corpus = spark.read.parquet(out)
    got_urls = {r.url for r in corpus.select("url").collect()}
    assert not any(u.endswith("-re") for u in got_urls), got_urls
    assert corpus.count() == n1
    # the backfilled sidecar now covers the pre-flag batches too
    bands = spark.read.parquet(f"{out}/_bands")
    assert {r.k for r in bands.select("k").collect()} == got_urls


def test_sidecar_params_guard(spark, tmp_path):
    """The _bands sidecar pins its signature params: same params pass,
    different params hard-error (stored signatures are not comparable —
    silently slicing them past length would collapse recall)."""
    import pytest

    from jarvis_ocr_service_spark.streaming.stream import _sidecar_params_guard

    bands = str(tmp_path / "out" / "_bands")
    params = {"k": 3, "max_tokens": 2000, "num_hashes": 16}
    _sidecar_params_guard(spark, bands, params)   # first writer records
    _sidecar_params_guard(spark, bands, params)   # same params: fine
    with pytest.raises(ValueError, match="signature"):
        _sidecar_params_guard(
            spark, bands, {"k": 3, "max_tokens": 2000, "num_hashes": 32}
        )


def test_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """The exactly-once mechanism itself: replaying a micro-batch write
    (crash between parquet commit and checkpoint commit) overwrites its
    own batch partition instead of appending duplicates."""
    from jarvis_ocr_service_spark.streaming.stream import _write_batch_idempotent

    out = str(tmp_path / "out")
    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    _write_batch_idempotent(df, out, 0)
    _write_batch_idempotent(df, out, 0)  # the replay
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert got.select("id").distinct().count() == 50
    # a later batch lands beside it, untouched by batch-0 replays
    _write_batch_idempotent(spark.range(50, 80).selectExpr("id", "id*2 AS v"), out, 1)
    _write_batch_idempotent(df, out, 0)
    assert spark.read.parquet(out).count() == 80
