"""Quantized PageRank: exact-integer iteration sanity + determinism."""

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.graph import pagerank_quantized


def test_hub_accumulates_authority(spark):
    # star: 0..4 -> 5; node 5 must end far above the spokes
    edges = spark.createDataFrame(
        [(i, 5) for i in range(5)], "src long, dst long"
    )
    got = {r.node: r.rank_q for r in pagerank_quantized(edges, iters=5).collect()}
    assert got[5] > 3 * got[0]
    assert len({got[i] for i in range(5)}) == 1  # spokes symmetric


def test_exact_python_reference(spark):
    """Spark result == a direct pure-Python evaluation of the pinned
    integer recurrence (independent implementation)."""
    raw = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r.node: r.rank_q for r in pagerank_quantized(edges, iters=4).collect()}

    nodes = sorted({s for s, _ in raw} | {d for _, d in raw})
    scale, n = 10**12, len(nodes)
    init = scale // n
    base = (15 * init) // 100
    deg = {}
    for s, _ in set(raw):
        deg[s] = deg.get(s, 0) + 1
    r = {v: init for v in nodes}
    for _ in range(4):
        inc = {v: 0 for v in nodes}
        for s, d in set(raw):
            inc[d] += r[s] // deg[s]
        r = {v: base + (85 * inc[v]) // 100 for v in nodes}
    assert got == r


def test_deterministic_across_runs(spark):
    edges = spark.createDataFrame(
        [(i % 11, (i * 3 + 1) % 11) for i in range(60) if i % 11 != (i * 3 + 1) % 11],
        "src long, dst long",
    )
    a = sorted((r.node, r.rank_q) for r in pagerank_quantized(edges, iters=5).collect())
    b = sorted((r.node, r.rank_q) for r in pagerank_quantized(edges, iters=5).collect())
    assert a == b


def test_release_cached_contract(spark, rdds):
    """pagerank leaves exactly its final checkpoint to the caller: the
    scope frees it on exit; unscoped, release_cached frees it (counted and
    idempotent — bench.py's contract)."""
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    from jarvis_ocr_service_spark.plans.caching import cache_scope, release_cached

    before = rdds()
    with cache_scope():
        pagerank_quantized(edges, iters=2).collect()
        assert rdds() == before + 1
    assert rdds() == before

    release_cached(None)  # start from an empty session default
    before = rdds()
    out = pagerank_quantized(edges, iters=2)
    out.collect()
    assert rdds() == before + 1
    assert release_cached(out) == 1
    assert rdds() == before
    assert release_cached(out) == 0  # idempotent


def test_dangling_renormalize_exact_python_reference(spark):
    """Renormalized dangling mass: Spark == a pure-Python evaluation of
    the pinned recurrence with the per-round D // N term (node 3 is a
    pure sink here, so the term is live every round)."""
    raw = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {
        r.node: r.rank_q
        for r in pagerank_quantized(
            edges, iters=4, dangling="renormalize"
        ).collect()
    }

    nodes = sorted({s for s, _ in raw} | {d for _, d in raw})
    scale, n = 10**12, len(nodes)
    init = scale // n
    base = (15 * init) // 100
    deg = {}
    for s, _ in set(raw):
        deg[s] = deg.get(s, 0) + 1
    r = {v: init for v in nodes}
    for _ in range(4):
        dm = sum(r[v] for v in nodes if v not in deg) // n
        inc = {v: 0 for v in nodes}
        for s, d in set(raw):
            inc[d] += r[s] // deg[s]
        r = {v: base + (85 * (inc[v] + dm)) // 100 for v in nodes}
    assert got == r
    # and it's a genuine divergence from the leak mode
    leak = {
        r_.node: r_.rank_q
        for r_ in pagerank_quantized(edges, iters=4).collect()
    }
    assert sum(got.values()) > sum(leak.values())


def test_until_fixpoint_converges_and_is_stable(spark):
    """Fixpoint mode: the quantized dynamics reach a literal fixed
    vector; one more round leaves it unchanged."""
    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 7) for i in range(30) if i % 7 != (i * 3 + 1) % 7],
        "src long, dst long",
    )
    fixed = {
        r.node: r.rank_q
        for r in pagerank_quantized(
            edges, until_fixpoint=True, max_iters=100
        ).collect()
    }
    # run 30 fixed rounds: must land on the same vector (and stay there)
    k30 = {
        r.node: r.rank_q for r in pagerank_quantized(edges, iters=30).collect()
    }
    assert fixed == k30


def test_fixpoint_cap_raises(spark):
    import pytest

    # asymmetric: a symmetric 2-cycle is already at the fixpoint, so use
    # a graph whose ranks genuinely move on round 1
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 0), (3, 0)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        pagerank_quantized(edges, until_fixpoint=True, max_iters=1)


def test_empty_edge_table_yields_empty_ranking(spark):
    """A crawl slice with no qualifying links is a normal input — empty
    ranking, not ZeroDivisionError."""
    edges = spark.createDataFrame([], "src long, dst long")
    out = pagerank_quantized(edges, iters=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank_q"]


def test_shuffle_partitions_knob_is_result_identical(spark):
    """shuffle_partitions affects scheduling only — bit-identical ranks,
    and the session conf is restored afterwards."""
    edges = spark.createDataFrame(
        [(i % 11, (i * 3 + 1) % 11) for i in range(60) if i % 11 != (i * 3 + 1) % 11],
        "src long, dst long",
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    a = sorted((r.node, r.rank_q) for r in pagerank_quantized(edges, iters=4).collect())
    b = sorted(
        (r.node, r.rank_q)
        for r in pagerank_quantized(edges, iters=4, shuffle_partitions=3).collect()
    )
    assert a == b
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
