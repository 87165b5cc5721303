"""Per-partition checkpoint manifest: processed-file lineage + extraction
counters, enabling exactly-once resume (north rule).

The reference tracks job state in a best-effort Redis KV (24h TTL,
/root/reference/app/queue_client.py:143-157) and re-queues failures to the
back of the list — at-least-once with possible duplicates. At 10^12 rows
that becomes: a *manifest table* recording, per input batch, exactly which
files were processed and what came out. Commit protocol:

    1. write the batch's results to ``<output>/batch_id=<k>/`` (overwrite —
       idempotent on retry),
    2. append the manifest row (lineage + counters).

A crash between 1 and 2 leaves an orphan data directory that the re-run
overwrites before committing — so the final table has no gaps and no
duplicates whichever step failed. Readers who want strictly-committed data
join the output against the manifest (``read_committed``).

Batching is by *input file* — deterministic (sorted listing), aligned with
how a real Iceberg/parquet table splits, and restart-stable. Counters
mirror the reference's recommended metrics (prds/queue-flow.md:469-479).
"""

from __future__ import annotations

import uuid
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_input_files(spark: SparkSession, input_path: str) -> List[str]:
    """Deterministic sorted listing of the input table's data files, via the
    Hadoop FS API (works for file://, hdfs://, s3a:// alike).

    Only a flat table is accepted: a partitioned one (``partitionBy``)
    keeps its files in subdirectories this listing does not descend into,
    so it raises instead of planning zero batches."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(input_path)
    fs = path.getFileSystem(conf)
    visible = [
        st for st in fs.listStatus(path)
        if not st.getPath().getName().startswith(("_", "."))
    ]
    subdirs = sorted(st.getPath().getName() for st in visible if st.isDirectory())
    if subdirs:
        raise ValueError(
            f"input table {input_path} has subdirectories {subdirs[:3]} — "
            "a partitioned table is not supported; write the pages table "
            "without partitionBy"
        )
    return sorted(st.getPath().toString() for st in visible)


def plan_batches(files: List[str], files_per_batch: int) -> List[List[str]]:
    return [files[i : i + files_per_batch] for i in range(0, len(files), files_per_batch)]


def _manifest_exists(spark: SparkSession, manifest_path: str) -> bool:
    """True iff the manifest path holds COMMITTED parquet data.

    "Exists but holds no committed part files" counts as nothing-committed:
    a crash during the very first batch's manifest write can leave only
    ``_temporary`` (or an empty dir), and treating that as an existing
    manifest would make ``spark.read.parquet`` fail with
    'unable to infer schema' — permanently blocking resume even though
    nothing was ever committed (r3 ADVICE). Genuine read failures on a
    manifest that *does* have part files still propagate from the read."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(manifest_path)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return False
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isFile() and name.startswith("part-"):
            return True
    return False


def committed_batch_files(spark: SparkSession, manifest_path: str) -> dict:
    """batch_id -> exact input-file list the committed batch processed.

    Absent manifest -> {}; unreadable manifest -> raise (never guess
    "nothing committed"). A transient or partial read failure must
    propagate: swallowing it would silently mark every batch uncommitted,
    and re-runs would append duplicate manifest rows (double-counted
    counters, ambiguous resume)."""
    if not _manifest_exists(spark, manifest_path):
        return {}
    rows = spark.read.parquet(manifest_path).select("batch_id", "files").collect()
    return {r.batch_id: list(r.files) for r in rows}


def run_checkpointed(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    pdf_mode: str = "parse",
    files_per_batch: int = 4,
) -> dict:
    """Extract the input table batch-by-batch with manifest commits; a
    re-run after a crash skips the committed batches and finishes the
    rest. Returns run stats.

    Resume safety: a committed batch_id is only skipped when the *planned*
    file list for that batch_id equals the manifest's recorded ``files``.
    Batch ids are positional — adding/removing input files or resuming with
    a different ``files_per_batch`` would silently re-map ids onto different
    file sets (gaps + duplicates), so any mismatch is a hard error rather
    than a guess.
    """
    run_id = str(uuid.uuid4())
    files = list_input_files(spark, input_path)
    batches = plan_batches(files, files_per_batch)
    done = committed_batch_files(spark, manifest_path)

    ran = 0
    skipped = 0
    for batch_id, batch_files in enumerate(batches):
        if batch_id in done:
            if done[batch_id] != list(batch_files):
                raise ValueError(
                    f"checkpoint resume mismatch for batch_id={batch_id}: "
                    f"manifest committed files {done[batch_id]} but the "
                    f"current plan maps this id to {list(batch_files)} — "
                    "the input listing or files_per_batch changed since the "
                    "manifest was written; refusing to resume (delete the "
                    "manifest + output to reprocess, or restore the "
                    "original input/batching)"
                )
            skipped += 1
            continue
        _run_one_batch(
            spark,
            spark.read.parquet(*batch_files),
            batch_id,
            batch_files,
            output_path,
            manifest_path,
            pdf_mode,
            run_id,
        )
        ran += 1

    return {
        "run_id": run_id,
        "n_batches": len(batches),
        "ran": ran,
        "skipped_committed": skipped,
    }


def _run_one_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    batch_files: List[str],
    output_path: str,
    manifest_path: str,
    pdf_mode: str,
    run_id: str,
) -> None:
    """One batch: extraction, idempotent data write, manifest commit."""
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

    results = run_pipeline(batch_df, pdf_mode=pdf_mode)
    batch_out = f"{output_path}/batch_id={batch_id}"
    results.write.mode("overwrite").parquet(batch_out)

    # Counters from the written data (cheap columnar scan of 3 cols) —
    # guarantees manifest counters describe exactly what landed.
    agg = (
        spark.read.parquet(batch_out)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("is_valid").cast("long")).alias("n_valid"),
            F.sum(F.col("error_code").isNotNull().cast("long")).alias("n_error"),
            F.sum(F.col("truncated").cast("long")).alias("n_truncated"),
        )
        .collect()[0]
    )
    manifest_row = spark.createDataFrame(
        [
            (
                batch_id,
                batch_files,
                agg.n_rows,
                agg.n_valid or 0,
                agg.n_error or 0,
                agg.n_truncated or 0,
                run_id,
            )
        ],
        "batch_id long, files array<string>, n_rows long, n_valid long,"
        " n_error long, n_truncated long, run_id string",
    ).withColumn("committed_at", F.current_timestamp())
    manifest_row.write.mode("append").parquet(manifest_path)


def read_committed(spark: SparkSession, output_path: str, manifest_path: str) -> DataFrame:
    """Results restricted to manifest-committed batches (exactly-once view)."""
    out = spark.read.option("basePath", output_path).parquet(output_path)
    manifest = spark.read.parquet(manifest_path).select("batch_id").distinct()
    return out.join(F.broadcast(manifest), "batch_id").drop("batch_id")


def manifest_counters(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Aggregate extraction counters across committed batches."""
    m = spark.read.parquet(manifest_path)
    return m.agg(
        F.count(F.lit(1)).alias("batches"),
        F.sum("n_rows").alias("rows"),
        F.sum("n_valid").alias("valid"),
        F.sum("n_error").alias("errors"),
        F.sum("n_truncated").alias("truncated"),
    )
