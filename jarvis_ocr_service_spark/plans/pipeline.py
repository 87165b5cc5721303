"""The extraction pipeline: pages -> results (+ job-status aggregate).

Extraction has one physical form: one ``mapInPandas`` stage runs the whole
per-row cascade (dispatch -> tier extract -> normalize -> validate ->
truncate, first valid tier wins). Zero shuffles end-to-end — a pure map
job; scan -> Arrow stage -> sink — and one Python-boundary crossing per
Arrow batch. Scales linearly with cores.

Aggregates (relational, JVM-side):
* job/host status: ``success`` iff any row valid (reference bool_or rule,
  app/queue_schemas.py:139-147) — `status_by_host`.
* failure-rate-by-code counters — `error_counters`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.operators.cascade import PDF_MODE_PARSE
from jarvis_ocr_service_spark.operators.udfs import make_extract_map_fn
from jarvis_ocr_service_spark.plans.skew import url_host
from jarvis_ocr_service_spark.schema import RESULTS_SCHEMA


def run_pipeline(pages: DataFrame, pdf_mode: str = PDF_MODE_PARSE) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> RESULTS_SCHEMA DataFrame.

    One ``mapInPandas`` stage runs cascade.extract_document per row;
    ``pdf_mode`` picks its PDF branch (``parse`` or ``reject``).
    """
    # Column-prune before the Python crossing: only what the stage reads
    # goes over Arrow — `text` never ships.
    return pages.select("url", "warc_ts", "html", "lang").mapInPandas(
        make_extract_map_fn(pdf_mode=pdf_mode), schema=RESULTS_SCHEMA
    )


# ---------------------------------------------------------------------------
# Aggregates over results
# ---------------------------------------------------------------------------

def status_by_host(results: DataFrame) -> DataFrame:
    """Per-host completion status: 'success' iff >=1 valid row (A1 bool_or
    rule) + extraction counters (A2/A6)."""
    return (
        results.withColumn("host", url_host(F.col("url")))
        .groupBy("host")
        .agg(
            F.max(F.col("is_valid")).alias("any_valid"),
            F.sum(F.col("is_valid").cast("int")).alias("valid_count"),
            F.count(F.lit(1)).alias("total_count"),
            F.sum(F.col("truncated").cast("int")).alias("truncated_count"),
        )
        .withColumn(
            "status",
            F.when(F.col("any_valid"), F.lit("success")).otherwise(F.lit("failed")),
        )
    )


def error_counters(results: DataFrame) -> DataFrame:
    """Failure-rate-by-code counters (reference prds/queue-flow.md:469-479)."""
    return (
        results.groupBy(F.coalesce(F.col("error_code"), F.lit("ok")).alias("code"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
