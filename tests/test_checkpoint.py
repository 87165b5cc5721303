"""Exactly-once resume: kill-and-resume must equal a one-shot run —
no duplicates, no gaps (north rule)."""

import pytest

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


def _run_killed(spark, monkeypatch, *args, **kwargs):
    """Emulate a driver killed during the second batch: extraction raises
    there, so exactly one batch commits. The real extraction is restored
    afterwards, ready for the resume run."""
    from jarvis_ocr_service_spark.plans import pipeline

    real = pipeline.run_pipeline
    calls = []

    def dies_in_second_batch(df, **kw):
        calls.append(df)
        if len(calls) == 2:
            raise RuntimeError("driver killed")
        return real(df, **kw)

    monkeypatch.setattr(pipeline, "run_pipeline", dies_in_second_batch)
    try:
        with pytest.raises(RuntimeError, match="driver killed"):
            run_checkpointed(spark, *args, **kwargs)
    finally:
        monkeypatch.setattr(pipeline, "run_pipeline", real)


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
    assert stats["ran"] == 3 and stats["skipped_committed"] == 0
    result = read_committed(spark, out, man)
    assert result.count() == N
    c = manifest_counters(spark, man).collect()[0]
    assert c.batches == 3 and c.rows == N


def test_kill_and_resume_equals_one_shot(spark, pages_dir, tmp_path, monkeypatch):
    # one-shot reference run
    out1, man1 = str(tmp_path / "o1"), str(tmp_path / "m1")
    run_checkpointed(spark, pages_dir, out1, man1, files_per_batch=2)
    expected = _collect_sorted(read_committed(spark, out1, man1))

    # killed run: only batch 0 committed
    out2, man2 = str(tmp_path / "o2"), str(tmp_path / "m2")
    _run_killed(spark, monkeypatch, pages_dir, out2, man2, files_per_batch=2)
    assert set(committed_batch_files(spark, man2)) == {0}

    # resume: skips committed batch, finishes the rest
    stats2 = run_checkpointed(spark, pages_dir, out2, man2, files_per_batch=2)
    assert stats2["skipped_committed"] == 1 and stats2["ran"] == 2

    got = _collect_sorted(read_committed(spark, out2, man2))
    assert got == expected  # no dupes, no gaps, identical content


def test_orphan_batch_overwritten_not_duplicated(
    spark, pages_dir, tmp_path, monkeypatch
):
    """Crash between data write and manifest commit: orphan data exists but
    is not visible via read_committed, and resume overwrites it cleanly."""
    out, man = str(tmp_path / "o3"), str(tmp_path / "m3")
    # simulate: batch 0 committed, then batch 1's data written but manifest
    # append "crashed" — emulate by killing the run in batch 1, then
    # hand-writing an orphan dir for batch 1.
    _run_killed(spark, monkeypatch, pages_dir, out, man, files_per_batch=2)
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


def test_resume_with_changed_batching_hard_errors(
    spark, pages_dir, tmp_path, monkeypatch
):
    """batch_id is positional: resuming with a different files_per_batch (or
    a changed input listing) re-maps ids onto different file sets. The
    manifest records the exact files per batch — resume must verify them
    and refuse on mismatch instead of silently skipping the wrong files."""
    out, man = str(tmp_path / "o5"), str(tmp_path / "m5")
    _run_killed(spark, monkeypatch, pages_dir, out, man, files_per_batch=2)
    with pytest.raises(ValueError, match="resume mismatch"):
        run_checkpointed(spark, pages_dir, out, man, files_per_batch=3)
    # unchanged batching still resumes cleanly
    stats = run_checkpointed(spark, pages_dir, out, man, files_per_batch=2)
    assert stats["ran"] == 2 and stats["skipped_committed"] == 1
    assert read_committed(spark, out, man).count() == N


def test_rerun_after_complete_is_noop(spark, pages_dir, tmp_path):
    out, man = str(tmp_path / "o4"), str(tmp_path / "m4")
    run_checkpointed(spark, pages_dir, out, man, files_per_batch=3)
    stats = run_checkpointed(spark, pages_dir, out, man, files_per_batch=3)
    assert stats["ran"] == 0 and stats["skipped_committed"] == 2
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
    assert stats["ran"] == 2 and stats["skipped_committed"] == 0
    assert read_committed(spark, out, man).count() == N


def test_partitioned_input_is_rejected(spark, tmp_path):
    """A pages table written with partitionBy keeps its files in
    subdirectories; the runner refuses it instead of committing nothing."""
    src = str(tmp_path / "by_lang")
    synthesize_pages(spark, 20).write.partitionBy("lang").parquet(src)
    with pytest.raises(ValueError, match="partitioned"):
        run_checkpointed(spark, src, str(tmp_path / "o"), str(tmp_path / "m"))


def test_failed_batch_releases_caches(spark, pages_dir, rdds, tmp_path, monkeypatch):
    """A run killed mid-batch leaves no persisted frame in the session."""
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    before = rdds()
    _run_killed(spark, monkeypatch, pages_dir, out, man, files_per_batch=3)
    assert rdds() == before


def test_caching_pipeline_fn_releases_per_batch(spark, pages_dir, rdds, tmp_path):
    """The extraction each batch runs leaves nothing persisted behind:
    a completed two-batch run ends with the session's caches unchanged."""
    before = rdds()
    stats = run_checkpointed(
        spark, pages_dir, str(tmp_path / "o"), str(tmp_path / "m"),
        files_per_batch=3,
    )
    assert stats["ran"] == 2
    assert rdds() == before
