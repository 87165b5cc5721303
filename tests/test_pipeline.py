"""End-to-end golden test: Spark pipeline output is byte-identical per url
to the pure-Python oracle; aggregates follow the reference rules."""

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.plans.pipeline import (
    error_counters,
    run_pipeline,
    status_by_host,
)
from jarvis_ocr_service_spark.sources.pages import (
    expected_result,
    make_page,
    synthesize_pages,
)

N = 200  # covers every content class 20x with varied hosts/langs


@pytest.fixture(scope="module")
def results(spark):
    pages = synthesize_pages(spark, N, seed=42, num_partitions=4)
    return {r["url"]: r for r in run_pipeline(pages).collect()}


def test_row_count_and_url_uniqueness(results):
    assert len(results) == N


def test_byte_identical_text_per_url(results):
    """THE correctness gate (BASELINE.json): extracted text per url must
    equal the oracle byte-for-byte."""
    for i in range(N):
        exp = expected_result(i, seed=42)
        got = results[exp["url"]]
        assert got.text.encode("utf-8") == exp["text"].encode("utf-8"), exp["url"]


def test_full_result_fields_match_oracle(results):
    for i in range(N):
        exp = expected_result(i, seed=42)
        got = results[exp["url"]]
        assert got.truncated == exp["truncated"]
        assert got.is_valid == exp["is_valid"]
        assert got.tier == exp["tier"]
        assert got.error_code == exp["error_code"]
        assert got.error_message == exp["error_message"]
        assert got.validation_reason == exp["validation_reason"]
        assert got.text_len == exp["text_len"]
        assert got.confidence == pytest.approx(exp["confidence"], abs=0)
        assert got.content_kind == exp["content_kind"]
        assert [(s.start, s.end, s.tag) for s in got.spans] == [
            tuple(t) for t in exp["spans"]
        ]


def test_duplicate_payloads_extract_identically(spark):
    """Extraction is a pure function of (payload, lang): the synth corpus
    repeats payloads heavily (PNG/empty/short classes), and every repeat
    must come out with the same result fields as the oracle."""
    pages = synthesize_pages(spark, 80, seed=42, num_partitions=4)
    got = {r["url"]: r for r in run_pipeline(pages).collect()}
    assert len(got) == 80
    by_payload = {}
    for i in range(80):
        page = make_page(i, seed=42)
        exp = expected_result(i, seed=42)
        r = got[exp["url"]]
        assert (r.text, r.tier, r.is_valid, r.error_code, r.confidence,
                r.text_len, r.truncated) == (
            exp["text"], exp["tier"], exp["is_valid"], exp["error_code"],
            exp["confidence"], exp["text_len"], exp["truncated"]
        ), exp["url"]
        assert [(sp.start, sp.end, sp.tag) for sp in r.spans] == [
            tuple(t) for t in exp["spans"]
        ], exp["url"]
        key = (bytes(page["html"] or b""), page["lang"])
        by_payload.setdefault(key, set()).add(
            (r.text, r.tier, r.is_valid, r.error_code, r.text_len)
        )
    assert len(by_payload) < 80  # the corpus really repeats payloads
    assert all(len(v) == 1 for v in by_payload.values())


def test_multiple_snapshots_per_url(spark):
    """A crawl can hold several snapshots of one url (that's why the schema
    carries warc_ts): every (url, warc_ts) row comes out once, with the
    oracle's result."""
    base = synthesize_pages(spark, 40, seed=42, num_partitions=2)
    dup = base.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    pages = base.unionByName(dup)  # every url twice, distinct warc_ts
    rows = run_pipeline(pages).collect()
    got = {(r["url"], r["warc_ts"]): r for r in rows}
    assert len(rows) == 80 and len(got) == 80
    for i in range(40):
        exp = expected_result(i, seed=42)
        snaps = [r for (url, _), r in got.items() if url == exp["url"]]
        assert len(snaps) == 2, exp["url"]
        for r in snaps:
            assert (r.text, r.tier, r.is_valid, r.error_code) == (
                exp["text"], exp["tier"], exp["is_valid"], exp["error_code"]
            ), exp["url"]


def test_status_by_host_bool_or_rule(spark):
    pages = synthesize_pages(spark, N, seed=42, num_partitions=4)
    res = run_pipeline(pages)
    status = {r["host"]: r for r in status_by_host(res).collect()}
    # recompute from oracle
    from collections import defaultdict
    from urllib.parse import urlparse

    per_host = defaultdict(list)
    for i in range(N):
        exp = expected_result(i, seed=42)
        per_host[urlparse(exp["url"]).netloc].append(exp["is_valid"])
    for host, valids in per_host.items():
        row = status[host]
        assert row.status == ("success" if any(valids) else "failed")
        assert row.valid_count == sum(valids)
        assert row.total_count == len(valids)


def test_error_counters(spark, results):
    pages = synthesize_pages(spark, N, seed=42, num_partitions=4)
    counts = {r["code"]: r["n"] for r in error_counters(run_pipeline(pages)).collect()}
    from collections import Counter

    exp = Counter(
        (expected_result(i, seed=42)["error_code"] or "ok") for i in range(N)
    )
    assert counts == dict(exp)


def test_extraction_plan_is_shuffle_free(spark):
    """The fused pipeline must be a pure map job: no Exchange in the plan."""
    pages = synthesize_pages(spark, 10, seed=42, num_partitions=2)
    plan = run_pipeline(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
