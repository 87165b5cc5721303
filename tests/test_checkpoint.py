"""Exactly-once resume: kill-and-resume must equal a one-shot run —
no duplicates, no gaps (north rule)."""

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.plans.checkpoint import (
    committed_batch_files,
    list_input_files,
    manifest_counters,
    read_committed,
    run_checkpointed,
)
from jarvis_ocr_service_spark.sources.pages import synthesize_pages

N = 120


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages"))
    synthesize_pages(spark, N, num_partitions=6).write.mode("overwrite").parquet(d)
    return d


def _collect_sorted(df):
    return [
        (r.url, r.text, r.tier, r.is_valid, r.error_code)
        for r in df.select("url", "text", "tier", "is_valid", "error_code")
        .orderBy("url")
        .collect()
    ]


def test_file_listing_deterministic(spark, pages_dir):
    files = list_input_files(spark, pages_dir)
    assert files == sorted(files)
    assert all(f.endswith(".parquet") for f in files)
    assert len(files) == 6


def test_one_shot_run_complete(spark, pages_dir, tmp_path):
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    stats = run_checkpointed(spark, pages_dir, out, man, files_per_batch=2)
    assert stats["complete"] and stats["ran"] == 3 and stats["skipped_committed"] == 0
    result = read_committed(spark, out, man)
    assert result.count() == N
    c = manifest_counters(spark, man).collect()[0]
    assert c.batches == 3 and c.rows == N


def test_kill_and_resume_equals_one_shot(spark, pages_dir, tmp_path):
    # one-shot reference run
    out1, man1 = str(tmp_path / "o1"), str(tmp_path / "m1")
    run_checkpointed(spark, pages_dir, out1, man1, files_per_batch=2)
    expected = _collect_sorted(read_committed(spark, out1, man1))

    # "killed" run: only 1 batch committed
    out2, man2 = str(tmp_path / "o2"), str(tmp_path / "m2")
    stats = run_checkpointed(spark, pages_dir, out2, man2, files_per_batch=2, max_batches=1)
    assert not stats["complete"] and stats["ran"] == 1
    assert set(committed_batch_files(spark, man2)) == {0}

    # resume: skips committed batch, finishes the rest
    stats2 = run_checkpointed(spark, pages_dir, out2, man2, files_per_batch=2)
    assert stats2["complete"]
    assert stats2["skipped_committed"] == 1 and stats2["ran"] == 2

    got = _collect_sorted(read_committed(spark, out2, man2))
    assert got == expected  # no dupes, no gaps, identical content


def test_orphan_batch_overwritten_not_duplicated(spark, pages_dir, tmp_path):
    """Crash between data write and manifest commit: orphan data exists but
    is not visible via read_committed, and resume overwrites it cleanly."""
    out, man = str(tmp_path / "o3"), str(tmp_path / "m3")
    # simulate: batch 0 committed, then batch 1's data written but manifest
    # append "crashed" — emulate by running max_batches=1 then hand-writing
    # an orphan dir for batch 1.
    run_checkpointed(spark, pages_dir, out, man, files_per_batch=2, max_batches=1)
    files = list_input_files(spark, pages_dir)
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

    orphan = run_pipeline(spark.read.parquet(*files[2:4]))
    orphan.limit(3).write.mode("overwrite").parquet(f"{out}/batch_id=1")  # partial!

    committed_view = read_committed(spark, out, man)
    assert committed_view.count() == 40  # only batch 0 visible

    run_checkpointed(spark, pages_dir, out, man, files_per_batch=2)
    final = read_committed(spark, out, man)
    assert final.count() == N  # orphan fully overwritten
    assert final.select("url").distinct().count() == N


def test_resume_with_changed_batching_hard_errors(spark, pages_dir, tmp_path):
    """batch_id is positional: resuming with a different files_per_batch (or
    a changed input listing) re-maps ids onto different file sets. The
    manifest records the exact files per batch — resume must verify them
    and refuse on mismatch instead of silently skipping the wrong files."""
    out, man = str(tmp_path / "o5"), str(tmp_path / "m5")
    run_checkpointed(spark, pages_dir, out, man, files_per_batch=2, max_batches=1)
    with pytest.raises(ValueError, match="resume mismatch"):
        run_checkpointed(spark, pages_dir, out, man, files_per_batch=3)
    # unchanged batching still resumes cleanly
    stats = run_checkpointed(spark, pages_dir, out, man, files_per_batch=2)
    assert stats["complete"] and stats["skipped_committed"] == 1
    assert read_committed(spark, out, man).count() == N


def test_rerun_after_complete_is_noop(spark, pages_dir, tmp_path):
    out, man = str(tmp_path / "o4"), str(tmp_path / "m4")
    run_checkpointed(spark, pages_dir, out, man, files_per_batch=3)
    stats = run_checkpointed(spark, pages_dir, out, man, files_per_batch=3)
    assert stats["ran"] == 0 and stats["complete"]
    assert read_committed(spark, out, man).count() == N


def test_uncommitted_manifest_dir_means_nothing_committed(spark, pages_dir, tmp_path):
    """A manifest directory left by a crash during the FIRST batch's
    manifest write (only _temporary / no part files) must read as
    "nothing committed" so the automated resume can proceed — not a
    permanent 'unable to infer schema' block (r3 ADVICE)."""
    import os

    out, man = str(tmp_path / "o5"), str(tmp_path / "m5")
    os.makedirs(os.path.join(man, "_temporary", "0"))
    assert set(committed_batch_files(spark, man)) == set()
    stats = run_checkpointed(spark, pages_dir, out, man, files_per_batch=3)
    assert stats["complete"] and stats["skipped_committed"] == 0
    assert read_committed(spark, out, man).count() == N


def test_incremental_dedup_across_resume(spark, tmp_path):
    """dedup_against_committed: a recrawled duplicate arriving in a LATER
    batch — including after a kill-and-resume — is dropped against the
    already-COMMITTED corpus output, and resume equals one-shot exactly."""
    src = str(tmp_path / "dup_pages")
    base = synthesize_pages(spark, 60, num_partitions=2)
    base.write.mode("overwrite").parquet(src)
    # recrawl: identical payloads under new urls, landing in later files
    base.withColumn("url", F.concat(F.col("url"), F.lit("-re"))).write.mode(
        "append"
    ).parquet(src)
    n_distinct = (
        spark.read.parquet(src)
        .select(F.md5(F.coalesce("html", F.lit(b""))))
        .distinct()
        .count()
    )

    # one-shot
    out1, man1 = str(tmp_path / "o1"), str(tmp_path / "m1")
    run_checkpointed(
        spark, src, out1, man1, files_per_batch=1, dedup_against_committed=True
    )
    one_shot = read_committed(spark, out1, man1)
    assert one_shot.count() == n_distinct
    assert one_shot.select("url").distinct().count() == n_distinct

    # kill after 1 batch, then resume
    out2, man2 = str(tmp_path / "o2"), str(tmp_path / "m2")
    run_checkpointed(
        spark, src, out2, man2, files_per_batch=1, max_batches=1,
        dedup_against_committed=True,
    )
    assert set(committed_batch_files(spark, man2)) == {0}
    stats = run_checkpointed(
        spark, src, out2, man2, files_per_batch=1, dedup_against_committed=True
    )
    assert stats["complete"] and stats["skipped_committed"] == 1
    resumed = read_committed(spark, out2, man2)
    assert _collect_sorted(resumed) == _collect_sorted(one_shot)

    # without the flag the recrawl rows all land (the r3 gap)
    out3, man3 = str(tmp_path / "o3"), str(tmp_path / "m3")
    run_checkpointed(spark, src, out3, man3, files_per_batch=1)
    assert read_committed(spark, out3, man3).count() == 120


def test_dir_digest_probe_zero_shuffle_plan(spark, tmp_path):
    """r5 verdict item 7: the metastore-free parquet-dir digest store
    must probe the committed set WITHOUT shuffling it — the plan is two
    BroadcastHashJoins (semi then anti) with ZERO Exchanges, even with
    auto-broadcast disabled (the broadcasts are explicit, not
    threshold-dependent). This is exactly the plan run_checkpointed
    builds via probe_committed_digests."""
    from jarvis_ocr_service_spark.plans.checkpoint import (
        probe_committed_digests,
    )

    store = str(tmp_path / "digests")
    spark.range(1000).selectExpr(
        "md5(CAST(id AS STRING)) AS _digest"
    ).write.parquet(store)
    seen = spark.read.parquet(store)
    # ids 0..900 collide with the store (drop), 1000..1900 survive
    keyed = spark.range(20).selectExpr(
        "md5(CAST(id * 100 AS STRING)) AS _digest", "id AS payload"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probed = probe_committed_digests(keyed, seen)
        plan = probed._jdf.queryExecution().executedPlan().toString()
        # zero SHUFFLE exchanges — broadcasts are the point of the plan
        n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n_shuffles == 0, plan
        assert plan.count("BroadcastHashJoin") == 2, plan
        # semantics: identical to the naive full anti-join
        naive = keyed.join(seen, "_digest", "left_anti")
        assert sorted(r.payload for r in probed.collect()) == sorted(
            r.payload for r in naive.collect()
        )
        assert probed.count() < 20  # the probe actually dropped hits
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_failed_batch_releases_caches(spark, pages_dir, tmp_path):
    """r5 ADVICE: an exception mid-batch must not leak persisted frames
    for the life of the session — the per-batch caches are released in
    a finally."""
    out, man = str(tmp_path / "of"), str(tmp_path / "mf")

    def exploding_pipeline(df):
        raise RuntimeError("boom")

    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="boom"):
        run_checkpointed(
            spark, pages_dir, out, man, files_per_batch=1, max_batches=1,
            dedup_against_committed=True, pipeline_fn=exploding_pipeline,
        )
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after == before


def test_caching_pipeline_fn_releases_per_batch(spark, pages_dir, rdds, tmp_path):
    """A pipeline_fn whose result holds a persisted frame is covered by the
    batch's scope too: two batches leave nothing behind."""
    from jarvis_ocr_service_spark.plans.caching import persist
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

    def caching_pipeline(df):
        return persist(run_pipeline(df))

    before = rdds()
    stats = run_checkpointed(
        spark, pages_dir, str(tmp_path / "o"), str(tmp_path / "m"),
        files_per_batch=3, pipeline_fn=caching_pipeline,
    )
    assert stats["ran"] == 2
    assert rdds() == before
