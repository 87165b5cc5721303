#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a small page count.

    python3 perfbench/smoke.py [--pages N]

Checks that BENCHMARK.json is well formed and that spec.LAYER_MOVES names
exactly its per-layer metrics; runs every workload with ``--trace 0`` and
``--trace 1`` and checks that each run exits 0, passes its output checks
and prints every metric BENCHMARK.json names, with its unit; and checks
that in a directory holding only BENCHMARK.json and the benchmark, the
benchmark exits non-zero without printing a result. Takes a few minutes.
"""

from __future__ import annotations

import argparse
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

from spec import LAYER_MOVES

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_benchmark_json(bench: dict) -> list:
    problems = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(bench) != keys:
        problems.append(f"BENCHMARK.json keys {sorted(bench)}")
    names = [w["name"] for w in bench["workloads"]]
    for kind in ("end_to_end", "per_layer"):
        for m in bench[kind]:
            names.append(m["name"])
            if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
                problems.append(f"bad unit or direction: {m}")
            if kind == "end_to_end" and not 0 < m["bound"] <= 0.25:
                problems.append(f"bound out of range: {m}")
    problems += [f"bad name {n!r}" for n in names if not NAME.match(n)]
    if len(names) != len(set(names)):
        problems.append("a name is used twice")
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    if not setup or (setup[0]["unit"], setup[0]["better"]) != ("s", "lower"):
        problems.append("setup_s missing or malformed")
    layer_names = {m["name"] for m in bench["per_layer"]}
    if layer_names != set(LAYER_MOVES):
        problems.append(
            f"per_layer and spec.LAYER_MOVES differ: {sorted(layer_names ^ set(LAYER_MOVES))}"
        )
    return problems


def run_once(cwd: Path, workload: str, trace: int, pages: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--pages", str(pages)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(bench: dict, workload: str, trace: int, pages: int) -> list:
    out = run_once(ROOT, workload, trace, pages)
    where = f"{workload} --trace {trace}"
    if out.returncode != 0:
        return [f"{where}: exit {out.returncode}\n{out.stdout[-2000:]}{out.stderr[-2000:]}"]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{where}: output checks failed\n{out.stdout[-2000:]}")
    declared = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"{where}: metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))}")
    for name, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            problems.append(f"{where}: {name} is not a number")
    if trace == 0:
        problems += [f"{where}: {k} is 0" for k, v in result["metrics"].items() if not v["value"]]
    return problems


def check_stripped_directory() -> list:
    """Only BENCHMARK.json and the benchmark's files: must fail, printing
    no result."""
    stripped = ROOT / ".perfbench_work" / "smoke-stripped"
    shutil.rmtree(stripped, ignore_errors=True)
    (stripped / HERE.name).mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", stripped)
    for f in HERE.glob("*.py"):
        shutil.copy(f, stripped / HERE.name)
    out = run_once(stripped, "extract", 0, 100)
    shutil.rmtree(stripped)
    if out.returncode == 0 or out.stdout.strip():
        return [f"stripped directory: exit {out.returncode}, stdout {out.stdout[-500:]!r}"]
    return []


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--pages", type=int, default=200)
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = check_benchmark_json(bench) + check_stripped_directory()
    for w in bench["workloads"]:
        for trace in (0, 1):
            found = check_run(bench, w["name"], trace, args.pages)
            print(f"{w['name']} --trace {trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for problem in problems:
        print(f"FAIL {problem}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
