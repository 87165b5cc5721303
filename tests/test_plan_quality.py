"""Plan-quality gates: the physical plans the engine is supposed to
produce, asserted so regressions in pushdown/pruning/shuffle shape fail CI.
(The '.explain and iterate' requirement, pinned.)"""

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.dedup import dedup_exact
from jarvis_ocr_service_spark.plans.pipeline import run_pipeline, status_by_host
from jarvis_ocr_service_spark.sources.pages import synthesize_pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pq") / "pages")
    synthesize_pages(spark, 100, num_partitions=2).write.parquet(d)
    return d


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_scan_prunes_text_column(spark, pages_path):
    """The pages 'text' column (raw crawl text) must never be read by the
    extraction pipeline — column pruning through mapInPandas."""
    plan = _plan(run_pipeline(spark.read.parquet(pages_path)))
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "ReadSchema" in scan
    assert "text" not in scan.split("ReadSchema")[1]
    assert "html" in scan  # payload is read


def test_extraction_is_single_stage_map(spark, pages_path):
    plan = _plan(run_pipeline(spark.read.parquet(pages_path)))
    assert "Exchange" not in plan
    # one Python stage, named by the cascade's batch function: the
    # benchmark's per-layer split finds the extraction node by that name
    maps = [l for l in plan.splitlines() if "MapInPandas" in l]
    assert len(maps) == 1 and "extract_batches" in maps[0], plan


def test_filter_pushdown_reaches_scan(spark, pages_path):
    df = spark.read.parquet(pages_path).filter(F.col("lang") == "en")
    plan = _plan(run_pipeline(df))
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "PushedFilters" in scan and "lang" in scan.split("PushedFilters")[1]


def test_status_agg_partial_before_shuffle(spark, pages_path):
    plan = _plan(status_by_host(run_pipeline(spark.read.parquet(pages_path))))
    # map-side combine: a partial_ aggregate must appear below the Exchange
    assert "partial_max" in plan or "partial_" in plan
    assert plan.count("Exchange") == 1


def test_dedup_exact_single_shuffle(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedup_exact(docs))
    assert plan.count("Exchange") == 1
    assert "partial_" in plan


def test_dim_joins_are_broadcast(spark):
    import __spark_entry__ as e

    df = e.queries()["orders_by_nation"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_results_filter_pushdown_on_written_output(spark, pages_path, tmp_path):
    out = str(tmp_path / "results")
    run_pipeline(spark.read.parquet(pages_path)).write.parquet(out)
    q = spark.read.parquet(out).filter(F.col("is_valid")).select("url", "text_len")
    scan = [l for l in _plan(q).splitlines() if "FileScan" in l][0]
    assert "is_valid" in scan.split("PushedFilters")[1]
    read_schema = scan.split("ReadSchema")[1]
    assert "text:" not in read_schema  # projection pruned the big column


def test_near_dup_plans_have_no_cartesian_product(spark):
    """Every near-dup candidate generator must be a blocked equi-join —
    a CartesianProduct/BroadcastNestedLoop anywhere is a 100-TB killer."""
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )
    from jarvis_ocr_service_spark.functions.simsearch import (
        embedding_near_dup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for df in (
        minhash_lsh_pairs(docs.filter("doc_id < 50")),
        ngram_jaccard_pairs(docs.filter("doc_id < 50"), k=4, threshold=0.5),
        simhash_near_pairs(docs.filter("doc_id < 50"), max_hamming=4),
        embedding_near_dup_pairs(emb, threshold=0.95),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan[:2000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_embedding_near_dup_quantization_staged_once(spark):
    """The quantized vector must be staged as a real column — inlining the
    transform into each of the 24 plane dots would recompute it 24x (the
    no-CSE trap for interpreted higher-order exprs)."""
    from jarvis_ocr_service_spark.functions.simsearch import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_near_dup_pairs(emb, threshold=0.95))
    # the quantization transform contains exactly one round(x * 1000) per
    # staged column occurrence; sides of the self-join + 2 verify reads
    # -> a handful, NOT ~24 per side
    n = plan.count("* 1000.0")
    assert n <= 8, f"quantization inlined {n}x — staging regressed"


def test_r5_ops_plan_shapes(spark):
    """Round-5 operator plan gates: line dedup's hot-line agg combines
    map-side and never nest-loops; surprisal's token-surprisal join is a
    broadcast (the per-token table is vocabulary-sized); pack_chunks'
    window is partitioned (the parallel prefix sum), never global."""
    from jarvis_ocr_service_spark.functions.dedup import dedup_lines
    from jarvis_ocr_service_spark.functions.packing import pack_chunks
    from jarvis_ocr_service_spark.functions.vocab import unigram_surprisal

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    plan = _plan(dedup_lines(docs, max_count=5))
    assert "partial_count" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    # surprisal table join is deliberately UNHINTED (vocabulary is
    # corpus-bounded — AQE decides broadcast vs SMJ at runtime); the
    # gate pins map-side combine and no nested loop
    plan = _plan(unigram_surprisal(docs))
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    plan = _plan(pack_chunks(docs.select("doc_id", "n_chars"), 5000,
                             token_col="n_chars", num_partitions=4))
    assert "windowspecdefinition(_pid" in plan, plan[:2000]


def test_r6_ops_plan_shapes(spark):
    """Round-6 operator plan gates: DSIR's gram/hash path is pure
    codegen (zero Python eval nodes — the bucket hash runs on the
    EXPLODED gram column, never as an interpreted lambda over the
    token array), both count aggs combine map-side, and no nested
    loop appears; the score-table join stays UNHINTED (AQE decides).
    semdedup's within-cluster pair join is an equi-join, never a
    cartesian."""
    from jarvis_ocr_service_spark.functions.clustering import semdedup
    from jarvis_ocr_service_spark.functions.importance import dsir_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    plan = _plan(dsir_weights(docs, docs.filter(F.col("doc_id") % 10 == 0)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan

    plan = _plan(semdedup(emb, k=2, iters=1))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
