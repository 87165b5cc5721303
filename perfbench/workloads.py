"""The timed action of each workload and the check of its output.

Each workload object is built once per run, outside every timed region,
from the generated input's ``(n, seed)``; ``run`` is the timed action and
``check`` reads back what it wrote, with pyarrow rather than Spark, and
returns a list of problems (empty when the output is correct).
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, List

import pyarrow.parquet as pq

from spec import PREPARE_RECIPE, WORKLOADS

N_CLASSES = 10
# Content class -> (error code or "ok", truncated) of the cascade's result
# under the default parse mode: 0/1 clean and boilerplate HTML, 2 PDF,
# 6 oversize and 7 multibyte text are valid (6 and 7 truncated); 3 PNG
# has no OCR backend, 4 garbled and 5 too-short fail validation, 9 is
# an empty payload.
CLASS_OUTCOME = {
    0: ("ok", False), 1: ("ok", False), 2: ("ok", False),
    3: ("ocr_no_valid_output", False), 4: ("ocr_no_valid_output", False),
    5: ("ocr_no_valid_output", False), 6: ("ok", True), 7: ("ok", True),
    8: ("ok", False), 9: ("image_not_found", False),
}
SAMPLED_PER_CLASS = 2


def expected_histogram(n: int) -> Dict[tuple, int]:
    """(error code, truncated) -> rows, by class arithmetic over i % 10."""
    hist: Counter = Counter()
    for cls, outcome in CLASS_OUTCOME.items():
        hist[outcome] += n // N_CLASSES + (1 if cls < n % N_CLASSES else 0)
    return dict(hist)


def expected_survivors(n: int) -> int:
    """Rows ``prepare`` keeps from ``n`` synthesized pages.

    Class 7 pages share one text (exact dedup keeps one), the other
    surviving classes are distinct, and the perplexity gate keeps two of
    three equal-population buckets; measured as n // 3 + 1 for n in
    {200, 1000, 2000, 10000, 40000} and seeds {1, 2, 3, 7, 42}."""
    return n // 3 + 1


class Extract:
    """``run_pipeline(pages)`` written as results parquet."""

    def __init__(self, n: int, seed: int, out_dir: str):
        from jarvis_ocr_service_spark.sources.pages import expected_result

        self.n, self.seed, self.out = n, seed, out_dir
        self.hist = expected_histogram(n)
        sample = [
            cls + N_CLASSES * k
            for cls in range(N_CLASSES)
            for k in range(SAMPLED_PER_CLASS)
            if cls + N_CLASSES * k < n
        ]
        self.expected = {}
        for i in sample:
            r = expected_result(i, seed)
            self.expected[r["url"]] = (
                r["text"], r["tier"], [tuple(s) for s in r["spans"]]
            )

    def run(self, spark, pages) -> None:
        from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

        run_pipeline(pages).write.mode("overwrite").parquet(self.out)

    def check(self) -> List[str]:
        res = pq.read_table(self.out, columns=["url", "error_code", "truncated", "text",
                                                "tier", "spans"]).to_pydict()
        got = dict(Counter(
            (code or "ok", truncated)
            for code, truncated in zip(res["error_code"], res["truncated"])
        ))
        problems = []
        if got != self.hist:
            problems.append(f"error-code histogram {got} != {self.hist}")
        seen = set()
        for i, url in enumerate(res["url"]):
            if url not in self.expected:
                continue
            spans = [(s["start"], s["end"], s["tag"]) for s in res["spans"][i]]
            if (res["text"][i], res["tier"][i], spans) != self.expected[url]:
                problems.append(f"row {url} differs from expected_result")
            seen.add(url)
        if seen != set(self.expected):
            problems.append(f"{len(self.expected) - len(seen)} sampled rows missing")
        return problems


class Prepare:
    """``prepare_training_data(pages, **PREPARE_RECIPE)`` written as corpus
    parquet, then ``release_cached``."""

    def __init__(self, n: int, seed: int, out_dir: str):
        self.n, self.seed, self.out = n, seed, out_dir
        self.survivors = expected_survivors(n)
        self.rdds_left = 0

    def run(self, spark, pages) -> None:
        from jarvis_ocr_service_spark.plans.caching import release_cached
        from jarvis_ocr_service_spark.plans.prepare import prepare_training_data

        corpus = prepare_training_data(pages, **PREPARE_RECIPE)
        try:
            corpus.write.mode("overwrite").parquet(self.out)
        finally:
            release_cached(corpus)
        self.rdds_left = spark.sparkContext._jsc.getPersistentRDDs().size()

    def check(self) -> List[str]:
        corpus = pq.read_table(self.out, columns=["url", "n_tokens"]).to_pydict()
        rows = len(corpus["url"])
        problems = []
        if rows != self.survivors:
            problems.append(f"{rows} survivors != pinned {self.survivors}")
        if len(set(corpus["url"])) != rows:
            problems.append("duplicate urls in corpus")
        if rows and min(corpus["n_tokens"]) < 10:
            problems.append(f"a survivor has {min(corpus['n_tokens'])} < 10 tokens")
        if self.rdds_left:
            problems.append(f"{self.rdds_left} persistent RDDs left after release_cached")
        return problems


class Status:
    """``status_by_host(run_pipeline(pages)).collect()``: the any-valid
    completion rule, a read-only consumer of the same cascade (no write;
    text and spans cross Arrow only to be dropped). The traced run times
    it next to its workload, see spec.py."""

    def __init__(self, n: int, seed: int):
        from jarvis_ocr_service_spark.sources.pages import host_for

        self.totals: Counter = Counter()
        self.valid: Counter = Counter()
        for i in range(n):
            host = host_for(i, seed)
            self.totals[host] += 1
            self.valid[host] += CLASS_OUTCOME[i % N_CLASSES][0] == "ok"
        self.rows = []

    def run(self, spark, pages) -> None:
        from jarvis_ocr_service_spark.plans.pipeline import run_pipeline, status_by_host

        self.rows = status_by_host(run_pipeline(pages)).collect()

    def check(self) -> List[str]:
        got = {r["host"]: (r["total_count"], r["valid_count"], r["status"]) for r in self.rows}
        want = {
            h: (t, self.valid[h], "success" if self.valid[h] else "failed")
            for h, t in self.totals.items()
        }
        if got != want:
            bad = sorted(h for h in set(got) | set(want) if got.get(h) != want.get(h))
            return [f"status_by_host differs from host_for counts on {len(bad)} hosts, "
                    f"e.g. {bad[0]}: {got.get(bad[0])} != {want.get(bad[0])}"]
        return []


WORKLOAD_TYPES = {"extract": Extract, "prepare": Prepare}
assert set(WORKLOAD_TYPES) == set(WORKLOADS)
