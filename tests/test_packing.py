"""Sequence packing: two-phase global cumsum == the global-window
oracle; pack assignment rules; no single-partition global window."""

import duckdb
import pytest

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.packing import (
    assign_packs,
    pack_chunks,
    with_global_cumsum,
)


def test_cumsum_matches_duckdb_global_window(spark):
    rows = [(i, (i * 37 + 11) % 400 + 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r.doc_id: r.cumsum
        for r in with_global_cumsum(df, "doc_id", "n", num_partitions=16).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT doc_id, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) "
            "FROM (SELECT unnest(range(2000)) AS doc_id, "
            "(unnest(range(2000)) * 37 + 11) % 400 + 1 AS n)"
        ).fetchall()
    )
    assert got == want


def test_pack_assignment_rules(spark):
    # tokens: 60, 60, 60 with max 100 -> starts 0, 60, 120 ->
    # packs 0, 0, 1; offsets 0, 60, 20
    df = spark.createDataFrame(
        [(0, 60), (1, 60), (2, 60)], "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in assign_packs(df, 100, num_partitions=2).collect()
    }
    assert got == {0: (0, 0), 1: (0, 60), 2: (1, 20)}

    # a document longer than the budget starts where it starts and the
    # NEXT doc lands after the straddle
    df2 = spark.createDataFrame(
        [(0, 250), (1, 10)], "doc_id long, n_tokens long"
    )
    got2 = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in assign_packs(df2, 100, num_partitions=2).collect()
    }
    assert got2 == {0: (0, 0), 1: (2, 50)}

    with pytest.raises(ValueError):
        assign_packs(df, 0)


def test_pack_chunks_rules_and_invariants(spark):
    # docs 60,60,250,10 @ max=100: starts 0,60,120,370
    #   doc0: 1 chunk  pack0 off0  len60
    #   doc1: 2 chunks pack0 off60 len40 | pack1 off0 len20
    #   doc2: 3 chunks pack1 off20 len80 | pack2 len100 | pack3 len70
    #   doc3: 1 chunk  pack3 off70 len10
    df = spark.createDataFrame(
        [(0, 60), (1, 60), (2, 250), (3, 10), (4, 0)],
        "doc_id long, n_tokens long",
    )
    rows = sorted(
        (r.doc_id, r.chunk_index, r.pack_id, r.pack_offset, r.tok_start,
         r.chunk_tokens)
        for r in pack_chunks(df, 100, num_partitions=2).collect()
    )
    assert rows == [
        (0, 0, 0, 0, 0, 60),
        (1, 0, 0, 60, 0, 40),
        (1, 1, 1, 0, 40, 20),
        (2, 0, 1, 20, 0, 80),
        (2, 1, 2, 0, 80, 100),
        (2, 2, 3, 0, 180, 70),
        (3, 0, 3, 70, 0, 10),
    ]  # zero-token doc 4 emits nothing
    # concatenation invariant: chunk lengths sum back to the document
    per_doc = {}
    for d, _ci, _p, _po, _ts, n in rows:
        per_doc[d] = per_doc.get(d, 0) + n
    assert per_doc == {0: 60, 1: 60, 2: 250, 3: 10}
    # pack-level invariant: every pack except the last is exactly full
    per_pack = {}
    for _d, _ci, p, _po, _ts, n in rows:
        per_pack[p] = per_pack.get(p, 0) + n
    assert per_pack == {0: 100, 1: 100, 2: 100, 3: 80}
    # chunks agree with assign_packs on where each doc's first token lands
    first = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in assign_packs(df, 100, num_partitions=2).collect()
    }
    for d, ci, p, po, _ts, _n in rows:
        if ci == 0:
            assert first[d] == (p, po)


@pytest.mark.parametrize("max_tokens", [7, 64, 1000])
def test_pack_chunks_property_concat_invariant(spark, max_tokens):
    rows = [(i, (i * 37 + 11) % 400) for i in range(500)]  # includes 0-len
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_chunks(
        df, max_tokens, token_col="n", order_col="doc_id", num_partitions=8
    ).collect()
    per_doc = {}
    for r in out:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.chunk_tokens
        assert 0 < r.chunk_tokens <= max_tokens
        assert 0 <= r.pack_offset < max_tokens
    want = {i: n for i, n in rows if n > 0}
    assert per_doc == want
    total = sum(want.values())
    packs = {r.pack_id for r in out}
    assert packs == set(range((total + max_tokens - 1) // max_tokens))


def test_no_single_partition_global_window(spark):
    df = spark.createDataFrame([(i, 1) for i in range(10)], "doc_id long, n long")
    plan = (
        with_global_cumsum(df, "doc_id", "n", num_partitions=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the running-sum window must be partitioned by _pid (parallel),
    # never an empty partition spec (the 1-task collapse)
    assert "windowspecdefinition(_pid" in plan, plan


def test_cumsum_releases_cached(spark, rdds):
    from jarvis_ocr_service_spark.plans.caching import cache_scope

    df = spark.createDataFrame([(i, 1) for i in range(10)], "doc_id long, n long")
    before = rdds()
    with cache_scope():
        with_global_cumsum(df, "doc_id", "n", num_partitions=2).collect()
        assert rdds() == before + 1  # the ranged frame
    assert rdds() == before


def test_pack_texts_reassembles_token_stream(spark):
    """The concatenation invariant at the string level: joining all
    packs in pack_id order reproduces the doc_id-ordered token stream
    exactly, and every pack but the last carries max_tokens tokens."""
    from jarvis_ocr_service_spark.functions.packing import pack_texts
    from jarvis_ocr_service_spark.plans.caching import cache_scope

    docs = [
        (i, " ".join(f"d{i}t{j}" for j in range(3 + (i * 7) % 11)))
        for i in range(20)
    ] + [(100, ""), (101, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with cache_scope():
        rows = sorted(pack_texts(df, 16).collect(), key=lambda r: r.pack_id)
    stream = []
    for _, t in sorted(docs):
        stream.extend((t or "").split())
    got_stream = " ".join(r.text for r in rows).split()
    assert got_stream == stream
    for r in rows[:-1]:
        assert r.n_tokens == 16 and len(r.text.split()) == 16
    assert rows[-1].n_tokens == len(stream) - 16 * (len(rows) - 1)
    # n_chunks counts the documents touching the pack
    assert all(r.n_chunks >= 1 for r in rows)


def test_pack_texts_single_doc_straddle(spark):
    from jarvis_ocr_service_spark.functions.packing import pack_texts
    from jarvis_ocr_service_spark.plans.caching import cache_scope

    df = spark.createDataFrame(
        [(0, " ".join(f"w{j}" for j in range(10)))], "doc_id long, text string"
    )
    with cache_scope():
        rows = {r.pack_id: r for r in pack_texts(df, 4).collect()}
    assert [rows[i].text for i in range(3)] == [
        "w0 w1 w2 w3", "w4 w5 w6 w7", "w8 w9",
    ]
    assert [rows[i].n_chunks for i in range(3)] == [1, 1, 1]
