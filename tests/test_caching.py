"""plans/caching: one scope owns every persisted or checkpointed frame.

Counts are the session's persistent RDDs (``getPersistentRDDs``), which
is what a leak leaves behind.
"""

import ast
import threading
from pathlib import Path

import pytest

from jarvis_ocr_service_spark.functions.dedup import dup_clusters
from jarvis_ocr_service_spark.functions.graph import pagerank_quantized
from jarvis_ocr_service_spark.functions.packing import global_rank
from jarvis_ocr_service_spark.functions.vocab import bpe_merges
from jarvis_ocr_service_spark.plans.caching import (
    cache_scope,
    local_checkpoint,
    persist,
    release,
    release_cached,
)

PKG = Path(__file__).resolve().parent.parent / "jarvis_ocr_service_spark"
LIFETIME_CALLS = {"persist", "cache", "localCheckpoint", "unpersist"}


def test_scope_releases_persist_and_checkpoint(spark, rdds):
    before = rdds()
    with cache_scope():
        p = persist(spark.range(50).selectExpr("id * 3 AS x"))
        p.count()
        local_checkpoint(spark.range(40).selectExpr("id + 1 AS y"))
        assert rdds() == before + 2
    assert rdds() == before


def test_release_frees_a_local_checkpoint(spark, rdds):
    """``DataFrame.unpersist()`` is a no-op on a local checkpoint; release
    goes through the checkpoint's LogicalRDD."""
    before = rdds()
    with cache_scope():
        cp = local_checkpoint(spark.range(30).selectExpr("id - 1 AS z"))
        cp.unpersist()
        assert rdds() == before + 1  # what the former per-round code relied on
        release(cp)
        assert rdds() == before
        release(cp)  # no longer held: a no-op


def test_scope_releases_on_exception(spark, rdds):
    before = rdds()
    with pytest.raises(RuntimeError, match="mid-plan"):
        with cache_scope():
            persist(spark.range(20).selectExpr("id * 5 AS w")).count()
            raise RuntimeError("mid-plan")
    assert rdds() == before


def test_nested_scope_leaves_the_outer_one_alone(spark, rdds):
    before = rdds()
    with cache_scope():
        outer = persist(spark.range(25).selectExpr("id * 7 AS a"))
        outer.count()
        with cache_scope():
            persist(spark.range(25).selectExpr("id * 11 AS b")).count()
        assert rdds() == before + 1
        assert outer.count() == 25
    assert rdds() == before


def test_each_thread_has_its_own_scope(spark, rdds):
    """The current scope is per thread: a thread started inside a scope
    does not see it (a foreachBatch callback thread opens its own), so
    its unscoped frame lands in the session default."""
    release_cached(None)  # start from an empty session default
    before = rdds()

    def work():
        persist(spark.range(15).selectExpr("id * 13 AS c")).count()

    with cache_scope():
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        assert rdds() == before + 1
    assert rdds() == before + 1  # not this scope's to free
    assert release_cached(None) == 1
    assert rdds() == before


def test_release_cached_outside_a_scope_frees_the_session_default(spark, rdds):
    release_cached(None)  # start from an empty default, as a fresh session does
    before = rdds()
    p = persist(spark.range(35).selectExpr("id * 17 AS d"))
    p.count()
    with cache_scope():
        assert release_cached(p) == 0  # the open scope holds nothing
    assert rdds() == before + 1
    assert release_cached(p) == 1
    assert rdds() == before
    assert release_cached(p) == 0  # idempotent


def test_iterative_builders_keep_at_most_one_round(spark, rdds):
    """The per-round checkpoints of bpe_merges, pagerank (renormalize mode
    checkpoints every round) and dup_clusters, and global_rank's ranged
    checkpoint, are freed as the next one lands: while the scope is open
    each builder holds at most one after it returns, and after it nothing."""
    docs = spark.createDataFrame(
        [(f"low lower lowest newer wider {i % 3} new low",) for i in range(12)],
        "text string",
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (4, 2)], "src long, dst long"
    )
    before = rdds()
    with cache_scope():
        assert bpe_merges(docs, k=8).count() == 8
        assert rdds() - before <= 1
        held = rdds()
        pagerank_quantized(edges, iters=4, dangling="renormalize").collect()
        assert rdds() - held <= 1
        # a 6-node chain: the min label needs 5 rounds to reach its end
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "key_a long, key_b long"
        )
        held = rdds()
        clusters = dup_clusters(chain).collect()
        assert {(r.key, r.cluster) for r in clusters} == {
            (i, 1) for i in range(1, 7)
        }
        assert rdds() - held <= 1
        held = rdds()
        ranked, n = global_rank(spark.range(40).selectExpr("id * 7 % 40 AS x"), "x")
        assert n == 40 and sorted(r.pos for r in ranked.collect()) == list(range(40))
        assert rdds() - held <= 1
    assert rdds() == before


def _lifetime_calls(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in LIFETIME_CALLS
        ):
            yield f"{path.relative_to(PKG.parent)}:{node.lineno} .{node.func.attr}("


def test_no_bare_count_materializes_a_cache():
    """A ``.count()`` whose result is discarded only fills a cache; the
    library materializes through ``caching.local_checkpoint`` instead."""
    bare = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Call)
        and isinstance(node.value.func, ast.Attribute)
        and node.value.func.attr == "count"
    ]
    assert not bare, bare


def test_only_caching_module_decides_lifetimes():
    """Every persist, cache, localCheckpoint and unpersist in the library
    goes through plans/caching, so one module owns the cache lifetime."""
    owner = PKG / "plans" / "caching.py"
    assert list(_lifetime_calls(owner))  # the scan sees the real calls
    stray = [
        hit
        for path in sorted(PKG.rglob("*.py"))
        if path != owner
        for hit in _lifetime_calls(path)
    ]
    assert not stray, stray
