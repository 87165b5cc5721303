"""Quantized k-means + SemDeDup: brute-force numpy parity, determinism,
empty-cluster carry-over, twin-collapse, and hot-cluster guard."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.clustering import (
    OFFSET,
    kmeans_assign,
    semdedup,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _kmeans_np(mat_q, k, iters):
    """Reference k-means mirroring the module's pinned rules exactly:
    smallest-id init, first-minimum argmin, floor-mean update,
    empty-cluster carry-over."""
    cent = mat_q[:k].copy()
    for _ in range(iters):
        d2 = ((mat_q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        c = d2.argmin(axis=1)
        new = cent.copy()
        for j in range(k):
            m = mat_q[c == j]
            if len(m):
                new[j] = m.sum(axis=0) // len(m)
        cent = new
    d2 = ((mat_q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    c = d2.argmin(axis=1)
    return c, d2[np.arange(len(mat_q)), c]


def _quant(mat, scale):
    v = mat * float(scale)
    q = np.where(v >= 0.0, np.floor(v + 0.5), np.ceil(v - 0.5))
    return q.astype(np.int64) + OFFSET


def test_kmeans_matches_numpy_brute_force(spark, emb):
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    exp_c, exp_d = _kmeans_np(_quant(mat, 1000), k=5, iters=3)
    got = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_assign(emb, k=5, iters=3).collect()
    }
    for i, r in enumerate(rows):
        assert got[r.vec_id] == (exp_c[i], exp_d[i]), r.vec_id


def test_kmeans_deterministic_across_runs(emb):
    a = sorted(map(tuple, kmeans_assign(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_assign(emb, k=4, iters=2).collect()))
    assert a == b


def test_kmeans_zero_iters_assigns_to_init(spark):
    # 3 points, k=2: init centroids are rows 0 and 1; point 2 sits on
    # top of row 1, so with iters=0 it must join cluster 1 at dist 0.
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.cluster, r.dist2) for r in
           kmeans_assign(df, k=2, iters=0).collect()}
    assert got[0] == (0, 0)
    assert got[1] == (1, 0)
    assert got[2] == (1, 0)


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # k=3 but only 2 distinct locations: one centroid goes empty after
    # round 1 and must carry over (not NaN/zero out).
    df = spark.createDataFrame(
        [(0, [0.0]), (1, [0.001]), (2, [10.0]), (3, [10.0]), (4, [10.0])],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_assign(df, k=3, iters=4).collect()
    assert len(out) == 5
    # the two groups separate; nothing lands on a poisoned centroid
    by_id = {r.vec_id: r.cluster for r in out}
    assert by_id[0] == by_id[1] or by_id[0] == 0
    assert by_id[2] == by_id[3] == by_id[4]


def test_kmeans_k_exceeds_rows_raises(spark):
    df = spark.createDataFrame(
        [(0, [0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="only"):
        kmeans_assign(df, k=2, iters=1)


def test_kmeans_offset_envelope_enforced(spark):
    df = spark.createDataFrame(
        [(0, [2000.0]), (1, [0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="OFFSET envelope"):
        kmeans_assign(df, k=2, iters=1).collect()


_NULL_ROWS = [
    (0, [1.0, None]),    # null element, smallest id: not an init centroid
    (1, [None, 2.0]),
    (2, [0.0, 0.0]),
    (3, [0.0, 0.1]),
    (4, [5.0, 5.0]),
    (5, [5.0, 5.1]),
    (6, None),           # null vector
]


def test_kmeans_null_elements_left_out_of_fit(spark):
    """A null vector, or one with a null element, takes no part in the fit
    and gets a null cluster/dist2, one output row per input row (two such
    vectors used to overflow the centroid sums)."""
    df = spark.createDataFrame(_NULL_ROWS, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.cluster, r.dist2) for r in kmeans_assign(df, k=2, iters=3).collect()}
    clean = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_assign(df.filter("vec_id BETWEEN 2 AND 5"), k=2, iters=3).collect()
    }
    assert sorted(got) == list(range(7))
    assert {i: got[i] for i in range(2, 6)} == clean
    assert got[0] == got[1] == got[6] == (None, None)


def test_ivf_null_elements_never_candidates(spark):
    from jarvis_ocr_service_spark.functions.clustering import ivf_topk_quantized
    from jarvis_ocr_service_spark.functions.simsearch import cosine_topk_quantized

    df = spark.createDataFrame(_NULL_ROWS, "vec_id long, embedding array<double>")
    q = [0.1, 0.2]
    got = [
        tuple(r)
        for r in ivf_topk_quantized(df, q, k=10, n_clusters=2, iters=2, nprobe=2).collect()
    ]
    exp = [
        tuple(r)
        for r in cosine_topk_quantized(df.filter("vec_id BETWEEN 2 AND 5"), q, k=10).collect()
    ]
    assert got == exp  # full probe over the valid vectors == exact search


def test_ivf_full_probe_equals_exact_topk(emb):
    from jarvis_ocr_service_spark.functions.clustering import (
        ivf_topk_quantized,
    )
    from jarvis_ocr_service_spark.functions.simsearch import (
        cosine_topk_quantized,
    )

    qvec = emb.filter("vec_id = 0").first().embedding
    got = [
        (r.vec_id, r.cos_sim)
        for r in ivf_topk_quantized(
            emb, qvec, k=10, n_clusters=4, iters=2, nprobe=4
        ).collect()
    ]
    exp = [
        (r.vec_id, r.cos_sim)
        for r in cosine_topk_quantized(emb, qvec, k=10).collect()
    ]
    assert got == exp  # probing every list == exact search


def test_ivf_partial_probe_finds_self(emb):
    from jarvis_ocr_service_spark.functions.clustering import (
        ivf_topk_quantized,
    )

    qvec = emb.filter("vec_id = 0").first().embedding
    out = ivf_topk_quantized(emb, qvec, k=5, n_clusters=8, iters=2, nprobe=1).collect()
    # the query IS vector 0: its own cluster is by definition the
    # nearest list, so self must be found with cosine exactly 1.0
    assert out[0].vec_id == 0
    assert out[0].cos_sim == 1.0
    assert len(out) == 5


def test_ivf_nprobe_bounds(emb):
    from jarvis_ocr_service_spark.functions.clustering import (
        ivf_topk_quantized,
    )

    qvec = emb.filter("vec_id = 0").first().embedding
    with pytest.raises(ValueError, match="nprobe"):
        ivf_topk_quantized(emb, qvec, n_clusters=4, nprobe=5)
    with pytest.raises(ValueError, match="nprobe"):
        ivf_topk_quantized(emb, qvec, n_clusters=4, nprobe=0)


def test_semdedup_drops_exact_twins_keeps_originals(emb):
    twins = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    both = emb.select("vec_id", "embedding").unionByName(twins)
    n = emb.count()
    survivors = {r.vec_id for r in
                 semdedup(both, k=4, iters=2, threshold=0.99).collect()}
    assert survivors == set(range(n))  # all originals, zero twins


def test_semdedup_threshold_one_point_one_survivor(spark):
    # three coincident points: keep-lowest-id leaves exactly id 0
    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    out = semdedup(df, k=1, iters=1, threshold=0.999).collect()
    assert [r.vec_id for r in out] == [0]


def test_semdedup_max_cluster_guard_skips_hot_cluster(spark):
    # all 4 points identical => one cluster of 4 > cap 3: guard exempts
    # the cluster from pair generation, everyone survives.
    df = spark.createDataFrame(
        [(i, [1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    out = semdedup(df, k=1, iters=1, threshold=0.9, max_cluster=3).collect()
    assert sorted(r.vec_id for r in out) == [0, 1, 2, 3]


def _plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_semdedup_over_cap_cluster_never_reaches_grouped_stage(spark):
    """max_cluster is applied before the grouped stage, whose pandas frame
    holds a whole cluster: the stage's input is filtered on a width
    aggregate, and the over-cap cluster's members all survive while the
    narrow cluster is still pruned."""
    # smallest-id init puts ids 0 and 1 in different clusters: {0,2,3,4}
    # (width 4 > cap 3) and {1,5} (width 2, 5 is 1's twin)
    a, b = [1.0, 0.0], [0.0, 1.0]
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, a), (3, a), (4, a), (5, b)],
        "vec_id long, embedding array<double>",
    )
    out = semdedup(df, k=2, iters=2, threshold=0.99, max_cluster=3)
    assert sorted(r.vec_id for r in out.collect()) == [0, 1, 2, 3, 4]
    grouped = [
        n for n in _plan_nodes(out._jdf.queryExecution().optimizedPlan())
        if n.nodeName() == "FlatMapGroupsInPandas"
    ]
    assert len(grouped) == 1
    stage_input = grouped[0].treeString()
    assert re.search(r"Filter .*_width#\d+L <= 3", stage_input), stage_input


def test_semdedup_null_elements_survive_on_input_row_basis(spark):
    """A vector with a null element is treated like a null vector: it
    survives and never pairs. The output keeps one row per input row —
    a null id passes through and a duplicated id is not multiplied."""
    rows = [
        (0, [1.0, 2.0]),
        (1, [1.0, 2.0]),      # twin of 0 -> dropped
        (2, [1.0, None]),     # null element -> survives, drops nothing
        (3, [1.0, 2.0]),      # twin of 0 -> dropped
        (None, [9.0, -4.0]),  # null id -> passes through
        (7, [-3.0, 8.0]),
        (7, [8.0, 3.0]),      # duplicated id, orthogonal vectors
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, k=1, iters=1, threshold=0.99).collect()
    got = sorted((r.vec_id for r in out), key=lambda v: (v is None, v))
    assert got == [0, 2, 7, 7, None]
