"""Host-side measurements that need no Spark: the process tree's CPU time
and resident memory read from ``/proc``, the weather controls, and the
machine facts recorded with every result."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import threading
import time
from typing import Dict, List, Tuple

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _processes_of(pids) -> Dict[int, Tuple[int, bytes, List[bytes]]]:
    """pid -> (ppid, command name, /proc/<pid>/stat fields after the name)."""
    procs = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        close = stat.rindex(b")")
        fields = stat[close + 2:].split()
        procs[int(pid)] = (int(fields[1]), stat[stat.index(b"(") + 1:close], fields)
    return procs


def _processes() -> Dict[int, Tuple[int, bytes, List[bytes]]]:
    return _processes_of(name for name in os.listdir("/proc") if name.isdigit())


def _tree(root: int, procs) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pids(root: int) -> List[int]:
    """``root`` and all its descendants: the driver Python, the JVM it
    launched and the Python workers the JVM forked."""
    return _tree(root, _processes())


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including children that
    exited and were reaped by a parent inside the tree."""
    procs = _processes()
    ticks = 0
    for pid in _tree(root, procs):
        if pid in procs:
            f = procs[pid][2]
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""  # exited


def tree_rss_mb(root: int) -> float:
    """Summed RSS of the tree, read from ``/proc/<pid>/stat``: cheap enough
    to sample every 0.1 s. A child of the JVM still running the JVM's
    executable is a process the JVM is spawning (Hadoop's local file
    system runs ``chmod`` on every file it writes); until it execs it
    shares the JVM's memory and reports the JVM's RSS, so it is not
    counted. Its name is the spawning thread's, not "java"."""
    procs = _processes()
    pages = 0
    for pid in _tree(root, procs):
        if pid not in procs:
            continue
        ppid, _, f = procs[pid]
        if procs.get(ppid, (0, b""))[1] == b"java":
            if _exe(pid) == _exe(ppid):
                continue
            # it may have exec'd since ``procs`` was read: read it again
            f = _processes_of([pid]).get(pid, (0, b"", f))[2]
        pages += int(f[21])  # field 24: rss in pages
    return pages * _PAGE_BYTES / 1e6


def reap_descendants(root: int, timeout_s: float = 30.0) -> None:
    """Wait for every descendant of ``root`` to end; kill what outlives
    ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in tree_pids(root) if p != root]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


class RssSampler:
    """Samples the tree's summed RSS on a thread; ``take_peak`` returns the
    largest sample since the previous call."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_mb(self.root)
        with self._lock:
            self._peak_mb = max(self._peak_mb, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def take_peak(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak_mb = self._peak_mb, 0.0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


_MD5_WORKER = (
    "import hashlib, sys\n"
    "buf = b'x' * (1 << 20)\n"
    "for _ in range(int(sys.argv[1])): hashlib.md5(buf).digest()\n"
)


def md5_control(nprocs: int, mib_per_proc: int = 64) -> float:
    """MiB/s hashed by ``nprocs`` parallel interpreters: a CPU-bound control."""
    t0 = time.perf_counter()
    procs = [
        subprocess.Popen([sys.executable, "-c", _MD5_WORKER, str(mib_per_proc)])
        for _ in range(nprocs)
    ]
    for p in procs:
        if p.wait(timeout=120) != 0:
            raise RuntimeError("md5 control process failed")
    return nprocs * mib_per_proc / (time.perf_counter() - t0)


def copy_control(mib: int = 128, reps: int = 3) -> float:
    """GB/s of a single-process numpy copy of a ``mib`` MiB array: a
    memory-bandwidth control (read + write bytes counted), best of
    ``reps``. Contention for memory bandwidth slows Spark stages without
    showing in the md5 control."""
    import numpy as np

    src = np.ones(mib << 17, dtype=np.float64)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return 2 * src.nbytes / best / 1e9


def weather(nprocs: int) -> Dict[str, float]:
    return {
        "md5_mibps": round(md5_control(nprocs), 1),
        "copy_gbps": round(copy_control(), 2),
    }


def machine_facts(cores: int, java: str) -> Dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cores,
        "mem_total_gib": round(mem_kb / 2**20, 1),
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "java": java,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
    }


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.machine()
