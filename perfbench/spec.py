"""What the benchmark measures beyond what ``BENCHMARK.json`` can say.

``BENCHMARK.json`` at the repository root names the workloads (with why
each was chosen) and every metric with its unit; its schema is fixed, so
the rest lives here: each workload's exact recipe and size, the session
settings, and which end-to-end metric each per-layer metric should move,
so an issue can cite a recipe or a prediction by name. ``smoke.py`` checks
that the two files name the same metrics.
"""

from __future__ import annotations

# Session settings shared by every workload (bench.py's, scaled to the host):
# local[nproc], AQE on, shuffle partitions = cores, Arrow batch 2048.
DRIVER_MEMORY = "3g"
ARROW_BATCH = 2048

# Set-up: session start plus a cold first extraction of this many pages
# (generated in-session, written to the noop sink), repeated
# SETUP_REPEATS times in one process. The first repeat also launches the
# JVM; later ones stop the SparkContext (which kills its Python workers)
# and start a new one, so each pays worker fork, library imports and the
# first batch again. setup_s is their median: with two repeats, the mean
# of a set-up that launches the JVM and one that does not. A third would
# add ~3.5 s to every run, where a prepare run is already ~80 s.
SETUP_PAGES = 256
SETUP_REPEATS = 2

# Pages per in-process operator timing sample (one Arrow batch).
LAYER_SAMPLE = ARROW_BATCH

# The traced run also times the status path, status_by_host(run_pipeline(
# pages)).collect() over the workload's pages, for STATUS_SECONDS after
# STATUS_WARMUP untimed runs: in the traced session after the window, then
# at once in a fresh untraced session. The untraced one gives
# plans.pipeline.status_docs_per_s, the read-only consumer of the cascade
# against which extract's write path is compared; traced median over
# untraced median is trace_overhead.
STATUS_SECONDS = 2
STATUS_WARMUP = 1

PREPARE_RECIPE = dict(
    near_dup_threshold=0.85,
    redact_pii=True,
    blocklist=["promo", "nosuchword"],
    line_dedup_max_count=50,
    keep_ppl_buckets=("head", "middle"),
)

# ``warmup`` untimed runs precede the window. Extract runs in a fresh JVM
# keep getting faster for ~20 runs of 4,000 pages (JIT); a count, not a
# time, puts the window at the same point of that curve on a slow host as
# on a fast one. Prepare cannot afford a warm-up: its single timed run
# (tens of seconds, mostly fixed per-job cost, so its page count barely
# matters) is the first in a session whose set-up extracted cold.
WORKLOADS = {
    "extract": dict(
        pages=4_000,
        warmup=4,
        recipe=(
            "plans.pipeline.run_pipeline(pages).write.parquet(results), the CLI "
            "extract path; pages from sources.pages.synthesize_pages(n, seed)"
        ),
    ),
    "prepare": dict(
        pages=1_000,
        warmup=0,
        recipe=(
            "plans.prepare.prepare_training_data(pages, **PREPARE_RECIPE)"
            ".write.parquet(corpus), then plans.caching.release_cached(corpus)"
        ),
    ),
}

# End-to-end metrics (measured with tracing off, units in BENCHMARK.json):
#   setup_s         median set-up time, see SETUP_REPEATS
#   docs_per_s      input pages / wall seconds, median over the window's runs
#   cpu_ms_per_doc  CPU of the whole process tree (driver, JVM, Python
#                   workers, from /proc) per input page, median over runs
#   peak_rss_mb     peak summed RSS of that tree during a run, median over
#                   the window's runs
# failed_frac, runs that raised or failed their output check over runs
# attempted, is printed in the table; the JSON result carries it as
# ``failed`` and ``attempted`` because it is 0 on every healthy run.

PER_CLASS = [f"operators.cascade.us_per_doc.c{k}" for k in range(10)]

# Library modules whose eager jobs the traced run attributes by name.
JOB_MODULES = [
    "functions.dedup",
    "functions.textstats",
    "functions.vocab",
    "functions.packing",
    "functions.wordfilter",
    "functions.pii",
]

_CASCADE = "docs_per_s and cpu_ms_per_doc on extract; barely prepare"
_JOBS = "docs_per_s on prepare; extract unchanged"

# Per-layer metric -> the end-to-end metric and workloads it should move.
LAYER_MOVES = {
    # timed in-process on one thread over LAYER_SAMPLE pages
    "operators.cascade.docs_per_s_1core": _CASCADE,
    **{name: _CASCADE for name in PER_CLASS},
    "operators.dispatch.sniff_kind_us": _CASCADE,
    "operators.extract_html.parse_blocks_us": _CASCADE,
    "operators.extract_html.extract_raw_blocks_us": _CASCADE,
    "operators.extract_html.extract_main_blocks_us": _CASCADE,
    "operators.extract_pdf.extract_pdf_text_us": _CASCADE,
    "operators.textops.normalize_text_us": _CASCADE,
    "operators.textops.truncate_with_len_us": _CASCADE,
    "operators.validate.validate_text_us": _CASCADE,
    "operators.udfs.batch_ms": _CASCADE,
    "operators.udfs.assemble_share": _CASCADE,
    # from the event log: the extraction MapInPandas node
    "operators.udfs.python_s": _CASCADE,
    "operators.udfs.to_python_mb": _CASCADE,
    "operators.udfs.from_python_mb": (
        "plans.pipeline.status_docs_per_s, where the returned text is wasted; "
        "less so extract docs_per_s"
    ),
    "operators.udfs.worker_start_s": "setup_s and docs_per_s on extract",
    "sources.scan_s": "docs_per_s on every workload, a small share at 4 cores",
    "sources.read_mb": "docs_per_s on every workload, a small share at 4 cores",
    "spark.output_mb": "docs_per_s on extract",
    "spark.jobs": _JOBS,
    "spark.stages": _JOBS,
    "spark.tasks": _JOBS,
    "spark.core_busy_share": _JOBS,
    **{f"{m}.jobs": _JOBS for m in JOB_MODULES},
    "spark.jobs_unattributed": _JOBS,
    "spark.shuffle_write_mb": _JOBS,
    "spark.shuffle_read_mb": _JOBS,
    "spark.spill_mb": _JOBS,
    "functions.python_s": _JOBS,
    "spark.task_run_s": "cpu_ms_per_doc on every workload",
    "spark.task_cpu_s": "cpu_ms_per_doc on every workload",
    "spark.gc_s": "cpu_ms_per_doc on every workload",
    # sampled during the traced window
    "plans.caching.peak_cached_mb": "peak_rss_mb on prepare",
    "plans.caching.rdds_left": "peak_rss_mb on prepare; expected 0",
    # timed in the traced run's untraced session, see STATUS_SECONDS
    "plans.pipeline.status_docs_per_s": (
        "docs_per_s of the read-only status path; a change that helps it but "
        "not extract docs_per_s (or the reverse) is in the write path"
    ),
    # the status path's traced median wall / its untraced median wall, see
    # STATUS_SECONDS; the untraced session runs second in the same JVM, so
    # JIT warm-up can bias it a little high
    "trace_overhead": "nothing: it is the cost of tracing",
}
