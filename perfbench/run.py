#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload {extract,prepare} --seed N \\
        --seconds S --trace {0,1} [--pages N]

Run from the root of a checkout; it reads the library from there and keeps
everything it writes under ``.perfbench_work/``. One run:

1. set-up, SETUP_REPEATS times: start a session on ``local[nproc]`` and
   extract a small generated slice cold (spec.py says exactly what);
2. generate the workload's pages from ``--seed`` with
   ``sources.pages.synthesize_pages`` into parquet, cached by (pages, seed);
3. run the workload's action over the parquet, after untimed warm-up
   runs, again and again until the timed runs add up to ``--seconds`` (at
   least one run), checking every timed run's output; the weather
   controls run just before and just after.

With ``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics. With ``--trace 1`` the window runs in a session that
writes Spark's event log, the status path is timed in that session and in
an untraced one, and the JSON carries the per-layer metrics instead; see
spec.py. Lines before it are a table for people, and
the whole record (samples, weather, machine facts) is written to
``.perfbench_work/results/``. The exit code is 1 when an output check
failed (the result is still printed), and 2, with nothing printed to
stdout, when the library or Spark cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import host
from spec import (
    ARROW_BATCH,
    DRIVER_MEMORY,
    LAYER_SAMPLE,
    SETUP_PAGES,
    SETUP_REPEATS,
    STATUS_SECONDS,
    STATUS_WARMUP,
    WORKLOADS,
)

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
KEEP_INPUTS = 4  # cached page sets kept on disk, newest first
JVM_OPTS = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"


def metric_units(kind: str) -> dict:
    """``kind`` is "end_to_end" or "per_layer": metric name -> unit, as
    BENCHMARK.json declares them."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[kind]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None,
                   help="page count instead of the workload's own (smoke test)")
    return p.parse_args(argv)


def missing_prerequisite():
    """Why the library cannot run from this checkout, or None."""
    if not (ROOT / "jarvis_ocr_service_spark" / "__init__.py").is_file():
        return f"no jarvis_ocr_service_spark package under {ROOT}"
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import jarvis_ocr_service_spark.plans.prepare  # noqa: F401
    except ImportError as e:
        return f"cannot import: {e}"
    return None


def confine_to_checkout() -> None:
    """Point every scratch location Spark, the JVMs and Python use into
    WORK, and let the Python workers import the library from the checkout."""
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # spark-submit first runs a small launcher JVM with these options
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(cores: int, event_log_dir: Path = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", JVM_OPTS)
        .config("spark.hadoop.hadoop.tmp.dir", str(WORK / "tmp"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
    )
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cold_run(spark, seed: int) -> None:
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline
    from jarvis_ocr_service_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, SETUP_PAGES, seed)
    run_pipeline(pages).write.format("noop").mode("overwrite").save()


def shutdown() -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
    host.reap_descendants(os.getpid())


def ensure_pages(spark, n: int, seed: int) -> str:
    """Pages for (n, seed) as parquet, generated once and cached."""
    from jarvis_ocr_service_spark.sources.pages import synthesize_pages

    root = WORK / "pages"
    path = root / f"n{n}-seed{seed}"
    if not (path / "_SUCCESS").exists():
        synthesize_pages(spark, n, seed).write.mode("overwrite").parquet(str(path))
    path.touch()
    cached = sorted(root.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in cached[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return str(path)


def window(spark, wl, pages_path: str, seconds: float, n: int, traced: bool,
           warmup: int, phase: str = "window") -> dict:
    """Run the workload ``warmup`` times untimed and unchecked, then timed
    until the timed runs add up to ``seconds`` (at least once); every
    timed run's output is checked, outside the timing. Returns per-run
    samples and problems. Jobs of the timed runs carry ``phase`` in the
    event log's PHASE property; only "window" jobs make the per-layer
    table."""
    import contextlib

    import eventlog

    pages = spark.read.parquet(pages_path)
    sc = spark.sparkContext
    for _ in range(warmup):
        wl.run(spark, pages)
    walls, cpus, peaks, problems = [], [], [], []
    attempted = failed = 0
    pid = os.getpid()
    measured = 0.0
    with contextlib.ExitStack() as stack:
        rss = stack.enter_context(host.RssSampler(pid))
        if traced:
            storage = stack.enter_context(eventlog.StorageSampler(sc))
            stack.enter_context(eventlog.attributed_calls(sc))
        while True:
            attempted += 1
            rss.take_peak()
            cpu0 = host.tree_cpu_s(pid)
            t0 = time.perf_counter()
            wall = None
            try:
                with eventlog.local_property(sc, eventlog.PHASE, phase):
                    wl.run(spark, pages)
                wall = time.perf_counter() - t0
                cpu = host.tree_cpu_s(pid) - cpu0
                peak = rss.take_peak()
                found = wl.check()
            except Exception as e:  # a failed run is counted, not fatal
                found = [f"{type(e).__name__}: {str(e)[:500]}"]
            measured += wall if wall is not None else time.perf_counter() - t0
            if found:
                failed += 1
                problems.extend(found)
            else:
                walls.append(wall)
                cpus.append(cpu)
                peaks.append(peak)
            if measured >= seconds:
                break
    out = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "walls_s": walls,
        "cpu_s": cpus,
        "peak_rss_mb": peaks,
        "pages": n,
    }
    if traced:
        out["peak_cached_mb"] = storage.peak_mb
        out["rdds_left"] = sc._jsc.getPersistentRDDs().size()
    return out


def end_to_end(setup_s, win: dict) -> dict:
    if not win["walls_s"]:  # every run failed; the result says so
        return {"setup_s": statistics.median(setup_s), "docs_per_s": 0.0,
                "cpu_ms_per_doc": 0.0, "peak_rss_mb": 0.0}
    n = win["pages"]
    return {
        "setup_s": statistics.median(setup_s),
        "docs_per_s": statistics.median(n / w for w in win["walls_s"]),
        "cpu_ms_per_doc": 1e3 * statistics.median(win["cpu_s"]) / n,
        "peak_rss_mb": statistics.median(win["peak_rss_mb"]),
    }


def per_layer(windows: dict, log_dir: Path, cores: int, n_layer: int,
              seed: int) -> dict:
    import eventlog
    import layers

    traced = windows["traced"]
    wall = sum(traced["walls_s"]) or 1.0
    metrics = eventlog.summarize(str(log_dir), wall, cores)
    metrics.update(layers.operator_timings(n_layer, seed))
    metrics["plans.caching.peak_cached_mb"] = traced["peak_cached_mb"]
    metrics["plans.caching.rdds_left"] = traced["rdds_left"]
    plain, logged = windows["status_untraced"]["walls_s"], windows["status_traced"]["walls_s"]
    n = windows["status_untraced"]["pages"]
    metrics["plans.pipeline.status_docs_per_s"] = (
        statistics.median(n / w for w in plain) if plain else 0.0
    )
    metrics["trace_overhead"] = (
        statistics.median(logged) / statistics.median(plain) if plain and logged else 0.0
    )
    return metrics


def run(args) -> dict:
    import workloads

    cores = len(os.sched_getaffinity(0))
    n = args.pages or WORKLOADS[args.workload]["pages"]
    warmup = WORKLOADS[args.workload]["warmup"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "pages": n,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(WORK / "eventlog", ignore_errors=True)  # a crashed run's
    log_dir = WORK / "eventlog" / tag
    out_dir = str(WORK / "out" / tag)
    windows = {}
    setup_s = []
    t_start = time.perf_counter()
    phases = record["phase_end_s"] = {}

    def mark(phase: str) -> None:
        phases[phase] = time.perf_counter() - t_start

    spark = pages_path = wl = status = None
    # An untraced run times its window in the session whose set-up was
    # measured last. A traced run reports no setup_s and sets up twice: the
    # first session writes the event log and runs the window, then the
    # status path; the second, untraced, runs the status path at once, so
    # both status windows see nearly the same JIT state and their ratio is
    # trace_overhead (the window itself runs once per run: a prepare run is
    # too long to repeat within the time a run may take).
    setups = 2 if args.trace else SETUP_REPEATS
    try:
        for k in range(setups):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cores, log_dir if (args.trace and k == 0) else None)
            cold_run(spark, args.seed)
            setup_s.append(time.perf_counter() - t0)
            mark(f"setup{k}")
            if k == 0:
                java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
                record["machine"] = host.machine_facts(cores, java)
                pages_path = ensure_pages(spark, n, args.seed)
                wl = workloads.WORKLOAD_TYPES[args.workload](n, args.seed, out_dir)
                status = workloads.Status(n, args.seed)
                mark("inputs")
                record["weather_before"] = host.weather(cores)
                mark("weather_before")
            if args.trace:
                if k == 0:
                    windows["traced"] = window(spark, wl, pages_path, args.seconds, n, True,
                                               warmup)
                    mark("window")
                name = "status_traced" if k == 0 else "status_untraced"
                windows[name] = window(spark, status, pages_path, STATUS_SECONDS, n, False,
                                       STATUS_WARMUP, phase="status")
                mark(name)
        if not args.trace:
            windows["untraced"] = window(spark, wl, pages_path, args.seconds, n, False, warmup)
            mark("window")
    finally:
        shutdown()
        shutil.rmtree(out_dir, ignore_errors=True)
    mark("shutdown")
    record["weather_after"] = host.weather(cores)
    mark("weather_after")
    record["setup_s"] = setup_s
    record["windows"] = windows

    if args.trace:
        layer_n = min(LAYER_SAMPLE, n)
        metrics = per_layer(windows, log_dir, cores, layer_n, args.seed)
        shutil.rmtree(log_dir, ignore_errors=True)
        mark("layers")
        units = metric_units("per_layer")
    else:
        metrics = end_to_end(setup_s, windows["untraced"])
        units = metric_units("end_to_end")
    attempted = sum(w["attempted"] for w in windows.values())
    failed = sum(w["failed"] for w in windows.values())
    record["metrics"] = metrics
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(record, indent=1))

    print_table(record, metrics, units, attempted, failed)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def print_table(record, metrics, units, attempted, failed) -> None:
    print(f"perfbench {record['workload']} seed={record['seed']} "
          f"pages={record['pages']} trace={record['trace']} "
          f"machine={json.dumps(record['machine'])}")
    print(f"  weather before {record['weather_before']} after {record['weather_after']}")
    for name, unit in units.items():
        print(f"  {name:48s} {metrics[name]:14.4f} {unit}")
    print(f"  {'failed_frac':48s} {failed / attempted:14.4f} share")
    for w in record["windows"].values():
        for p in w["problems"]:
            print(f"  FAILED CHECK: {p}")


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = missing_prerequisite()
    if missing:
        print(f"perfbench: {missing}", file=sys.stderr)
        return 2
    confine_to_checkout()
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
