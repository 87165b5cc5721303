"""Per-layer numbers for the traced run, read from Spark's own event log.

The traced session writes an uncompressed rolling event log
(``eventlog_v2_<app>/events_<k>_<app>``) into a local directory. Only jobs
submitted while the ``perfbench.phase`` local property reads ``window``
count, so set-up and output checks stay out of the table. Plan nodes come
from the SQL execution start events and from every AQE plan update, so
metrics of nodes that AQE re-planned are kept.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import re
import threading
from collections import defaultdict
from typing import Dict, Iterator

from spec import JOB_MODULES

PHASE = "perfbench.phase"
MODULE = "perfbench.module"
MB = 1e6

# Public library functions ``prepare`` calls on the driver. While one runs,
# jobs it submits carry its module in the MODULE local property; a job whose
# Python call site is in the library is attributed by that instead.
ATTRIBUTED = {
    "functions.dedup": ["minhash_lsh_pairs", "dup_clusters", "dedup_lines"],
    "functions.textstats": ["with_text_stats"],
    "functions.vocab": ["surprisal_buckets"],
    "functions.wordfilter": ["drop_by_wordlist"],
    "functions.pii": ["redact_pii_col"],
}
_CALLSITE = re.compile(r"jarvis_ocr_service_spark/(\w+)/(\w+)\.py:\d+")
_EXTRACT_UDF = "extract_batches"


@contextlib.contextmanager
def local_property(sc, key: str, value: str) -> Iterator[None]:
    old = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try:
        yield
    finally:
        sc.setLocalProperty(key, old)


@contextlib.contextmanager
def attributed_calls(sc) -> Iterator[None]:
    """Wrap the ATTRIBUTED functions for the duration of the block."""
    saved = []
    for module, names in ATTRIBUTED.items():
        mod = importlib.import_module(f"jarvis_ocr_service_spark.{module}")
        for name in names:
            fn = getattr(mod, name)
            saved.append((mod, name, fn))
            setattr(mod, name, _wrap(sc, module, fn))
    try:
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _wrap(sc, module: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with local_property(sc, MODULE, module):
            return fn(*args, **kwargs)

    return wrapper


class StorageSampler:
    """Peak MB of cached blocks (memory + disk) over the session's RDDs,
    sampled on a thread."""

    def __init__(self, sc, interval_s: float = 0.25):
        self.sc = sc
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos)
            self.peak_mb = max(self.peak_mb, held / MB)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "StorageSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _files(log_dir: str):
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no rolling event log under {log_dir}")
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _walk(plan: Dict, out: Dict[int, tuple]) -> None:
    name = plan["nodeName"]
    if name.startswith("Scan ") and "ExistingRDD" not in name:
        kind = "scan"
    elif name == "MapInPandas" and _EXTRACT_UDF in plan.get("simpleString", ""):
        kind = "extract"  # the node running the fused cascade
    else:
        kind = "other"
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (kind, m["name"])
    for child in plan.get("children", ()):
        _walk(child, out)


def _job_module(props: Dict) -> str:
    m = _CALLSITE.search(props.get("callSite.short") or "")
    if m:
        return f"{m.group(1)}.{m.group(2)}"
    return props.get(MODULE) or ""


def summarize(log_dir: str, wall_s: float, cores: int) -> Dict[str, float]:
    """Event log -> the spark.*, sources.*, functions.* and
    operators.udfs.* per-layer metrics of the window's jobs."""
    acc_kind: Dict[int, tuple] = {}
    window_stages = set()
    job_modules: Dict[str, int] = defaultdict(int)
    jobs = stages = tasks = 0
    t = defaultdict(float)  # task metric sums
    acc_sum = defaultdict(float)  # accumulator id -> summed task updates
    window_executions = set()
    driver_updates = defaultdict(list)  # execution id -> [(acc id, value)]

    for path in _files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                head = line[:64]
                if "TaskStart" in head or "BlockUpdated" in head:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get(PHASE) != "window":
                        continue
                    jobs += 1
                    window_stages.update(ev["Stage IDs"])
                    window_executions.add(props.get("spark.sql.execution.id"))
                    module = _job_module(props)
                    job_modules[module if module in JOB_MODULES else ""] += 1
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in window_stages:
                        stages += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev["Stage ID"] not in window_stages:
                        continue
                    tasks += 1
                    _add_task(ev, t, acc_sum)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _walk(ev["sparkPlanInfo"], acc_kind)
                elif kind.endswith("DriverAccumUpdates"):
                    # scan sizes and times that the driver measures itself
                    driver_updates[str(ev["executionId"])].extend(ev.get("accumUpdates", ()))

    for execution in window_executions:
        for acc_id, value in driver_updates.get(execution, ()):
            acc_sum[acc_id] += value

    sql = defaultdict(float)  # (node kind, metric name) -> summed updates
    for acc_id, total in acc_sum.items():
        if acc_id in acc_kind:
            sql[acc_kind[acc_id]] += total
    out = {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.jobs_unattributed": job_modules[""],
        "spark.core_busy_share": t["run_ms"] / 1e3 / (wall_s * cores),
        "spark.task_run_s": t["run_ms"] / 1e3,
        "spark.task_cpu_s": t["cpu_ns"] / 1e9,
        "spark.gc_s": t["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": t["shuffle_write"] / MB,
        "spark.shuffle_read_mb": t["shuffle_read"] / MB,
        "spark.spill_mb": t["spill"] / MB,
        "spark.output_mb": t["output"] / MB,
        "sources.scan_s": sql["scan", "scan time"] / 1e3,
        "sources.read_mb": sql["scan", "size of files read"] / MB,
        "operators.udfs.python_s": sql["extract", "time to run Python workers"] / 1e3,
        "operators.udfs.to_python_mb": sql["extract", "data sent to Python workers"] / MB,
        "operators.udfs.from_python_mb": sql["extract", "data returned from Python workers"] / MB,
        "operators.udfs.worker_start_s": (
            sql["extract", "time to start Python workers"]
            + sql["extract", "time to initialize Python workers"]
        ) / 1e3,
        "functions.python_s": sql["other", "time to run Python workers"] / 1e3,
    }
    for module in JOB_MODULES:
        out[f"{module}.jobs"] = job_modules[module]
    return out


def _add_task(ev: Dict, t: Dict[str, float], acc_sum: Dict[int, float]) -> None:
    m = ev.get("Task Metrics") or {}
    t["run_ms"] += m.get("Executor Run Time", 0)
    t["cpu_ns"] += m.get("Executor CPU Time", 0)
    t["gc_ms"] += m.get("JVM GC Time", 0)
    t["spill"] += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    t["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in ev["Task Info"].get("Accumulables", ()):
        if "Update" in acc:
            acc_sum[acc["ID"]] += float(acc["Update"])
