"""Similarity search: brute force exact, quantized oracle variant, LSH ANN."""

import math

import pytest

from jarvis_ocr_service_spark.functions.simsearch import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
    quantized_dot_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return emb.filter("vec_id = 0").first().embedding


def _brute_force_py(rows, qvec, k):
    qn = math.sqrt(sum(x * x for x in qvec))
    scored = []
    for r in rows:
        d = sum(float(a) * float(b) for a, b in zip(r.embedding, qvec))
        n = math.sqrt(sum(float(x) ** 2 for x in r.embedding))
        scored.append((d / (n * qn), r.vec_id))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [v for _, v in scored[:k]]


def test_cosine_topk_exact(emb, qvec):
    got = [r.vec_id for r in cosine_topk(emb, qvec, k=10).collect()]
    exp = _brute_force_py(emb.collect(), qvec, 10)
    assert got == exp
    assert got[0] == 0  # self-similarity = 1.0


def test_cosine_topk_plan_has_no_exchange_before_topk(emb, qvec):
    plan = cosine_topk(emb, qvec, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_quantized_dot_matches_float_ranking_mostly(emb, qvec):
    got = [r.vec_id for r in quantized_dot_topk(emb, qvec, k=5).collect()]
    exp = _brute_force_py(emb.collect(), qvec, 20)
    # quantization can reorder near-ties but the head must overlap strongly
    assert got[0] == 0
    assert len(set(got) & set(exp[:10])) >= 3


def test_lsh_recall_vs_brute_force(emb, qvec):
    exact = set(_brute_force_py(emb.collect(), qvec, 10))
    ann = {r.vec_id for r in lsh_bucketed_topk(emb, qvec, k=10, n_planes=4, probe_hamming=2).collect()}
    # multi-probe over 2^4 buckets scans ~11/16 of data -> high recall
    assert len(ann & exact) >= 6
    assert 0 in ann


def test_lsh_scans_fewer_rows(emb, qvec, spark):
    from jarvis_ocr_service_spark.functions.simsearch import _hyperplanes, lsh_bucket_col
    from pyspark.sql import functions as F

    planes = _hyperplanes(len(qvec), 4, 42)
    counts = (
        emb.withColumn("b", lsh_bucket_col(F.col("embedding"), planes))
        .groupBy("b").count().collect()
    )
    assert len(counts) > 4  # buckets actually spread


def test_ivf_centroids_deterministic_and_topk_recall(emb, qvec):
    from jarvis_ocr_service_spark.functions.simsearch import ivf_topk, train_ivf_centroids

    c1 = train_ivf_centroids(emb, n_centroids=8, iters=2)
    c2 = train_ivf_centroids(emb, n_centroids=8, iters=2)
    assert c1 == c2  # deterministic training
    exact = set(_brute_force_py(emb.collect(), qvec, 10))
    ann = {r.vec_id for r in ivf_topk(emb, qvec, k=10, centroids=c1, n_probe=4).collect()}
    assert 0 in ann  # the query's own vector is in a probed list
    assert len(ann & exact) >= 5  # probing half the lists -> decent recall


def test_ivf_probes_fewer_rows_than_full_scan(emb, qvec, spark):
    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.functions.simsearch import (
        _nearest_centroid_col,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, n_centroids=8, iters=2)
    sizes = (
        emb.withColumn("l", _nearest_centroid_col(F.col("embedding"), cents))
        .groupBy("l").count().collect()
    )
    assert len(sizes) >= 6  # lists populated, not collapsed
    assert max(r["count"] for r in sizes) < emb.count()


def test_embedding_near_dup_recall_on_perturbed_corpus(spark, emb):
    """Banded blocking must recover ~all planted perturbed twins at
    threshold 0.95 (the r1 single-2^6-bucket version missed any twin that
    crossed one hyperplane; 6 OR-combined bands fix the recall hole)."""
    import math

    from pyspark.sql import functions as F

    base = [(r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()]

    def perturb(vid, v):
        # deterministic tiny rotation-ish noise: ~2% relative -> cos ~0.9998
        return [
            x + 0.02 * math.sin(vid * 31 + i) * max(abs(x), 0.02)
            for i, x in enumerate(v)
        ]

    rows = []
    planted = set()
    for vid, v in base:
        pv = perturb(vid, v)
        # keep only twins that truly score >= 0.95 (they all should)
        dot = sum(a * b for a, b in zip(v, pv))
        cos = dot / (
            math.sqrt(sum(a * a for a in v)) * math.sqrt(sum(b * b for b in pv))
        )
        rows.append((vid, v))
        rows.append((vid + 10000, pv))
        if cos >= 0.95:
            planted.add((vid, vid + 10000))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {
        (r.key_a, r.key_b)
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert len(planted) >= 400  # fixture sanity
    recall = len(planted & found) / len(planted)
    assert recall >= 0.95, recall


def test_embedding_near_dup_candidates_scale_subquadratically(spark):
    """Candidate-pair growth on a 10x corpus: with band width scaled to the
    corpus (r = 4 -> 8 bits), candidates must grow far slower than the
    ~100x a fixed-2^6-bucket equality join would produce."""
    from pyspark.sql import functions as F

    big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    small = big.filter(F.col("vec_id") < 200)
    # threshold -1 keeps every verified candidate -> counts candidates
    n_small = embedding_near_dup_pairs(
        small, threshold=-1.0, n_planes=24, bands=6
    ).count()
    n_big = embedding_near_dup_pairs(
        big, threshold=-1.0, n_planes=48, bands=6
    ).count()
    assert n_small > 0
    ratio = n_big / max(n_small, 1)
    assert ratio < 35, (n_small, n_big, ratio)  # ~quadratic would be ~100x


def test_embedding_near_dup_max_bucket_caps_degenerate_buckets(spark):
    """A corpus of near-identical vectors puts everything in one bucket;
    max_bucket drops those groups from candidate generation instead of
    exploding the join."""
    rows = [(i, [1.0 + i * 1e-9] * 8) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_near_dup_pairs(
        df, threshold=0.9, n_planes=8, bands=4, max_bucket=10
    )
    assert capped.count() == 0  # every bucket wider than the cap -> dropped
    uncapped = embedding_near_dup_pairs(df, threshold=0.9, n_planes=8, bands=4)
    assert uncapped.count() == 50 * 49 // 2


def test_quantized_cosine_topk_matches_float_head(emb, qvec):
    from jarvis_ocr_service_spark.functions.simsearch import cosine_topk_quantized

    got = [r.vec_id for r in cosine_topk_quantized(emb, qvec, k=10).collect()]
    exp = _brute_force_py(emb.collect(), qvec, 10)
    assert got[0] == 0  # self-match first
    assert len(set(got) & set(exp)) >= 8  # quantization only reorders near-ties


def test_lsh_quantized_recall(emb, qvec):
    from jarvis_ocr_service_spark.functions.simsearch import (
        lsh_bucketed_topk_quantized,
    )

    exact = set(_brute_force_py(emb.collect(), qvec, 10))
    ann = {
        r.vec_id
        for r in lsh_bucketed_topk_quantized(
            emb, qvec, k=10, n_planes=4, probe_hamming=2
        ).collect()
    }
    assert 0 in ann
    assert len(ann & exact) >= 6


def test_embedding_near_dup_pairs_self(spark, emb):
    # duplicate the table with shifted ids -> every vector has an exact twin
    from pyspark.sql import functions as F

    shifted = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    both = emb.unionByName(shifted)
    pairs = embedding_near_dup_pairs(both, threshold=0.999999).collect()
    found = {(r.key_a, r.key_b) for r in pairs}
    n = emb.count()
    exact_twins = {(i, i + 10000) for i in range(n)}
    assert exact_twins <= found  # every twin found (same bucket guaranteed)


def test_auto_lsh_params_pure_and_sane():
    from jarvis_ocr_service_spark.functions.simsearch import auto_lsh_params

    # pure + deterministic
    assert auto_lsh_params(0.95, 500) == auto_lsh_params(0.95, 500)
    for t in (0.9, 0.95, 0.999):
        for n in (10, 500, 50_000, 10**9):
            planes, bands = auto_lsh_params(t, n)
            assert planes % bands == 0
            r = planes // bands
            assert 4 <= r <= 16
            assert 1 <= bands <= 16
    # bigger corpus -> wider bands (fewer random collisions per key)
    assert auto_lsh_params(0.95, 10**6)[0] // auto_lsh_params(0.95, 10**6)[1] \
        >= auto_lsh_params(0.95, 100)[0] // auto_lsh_params(0.95, 100)[1]


def test_embedding_near_dup_auto_sizing_two_corpus_sizes(spark, emb):
    """Verdict r2 item 6: with NO hand-tuned (n_planes, bands) the banded
    near-dup must find every planted exact twin at two corpus sizes —
    auto_lsh_params sizes the bands from the corpus count."""
    from pyspark.sql import functions as F

    for n_base in (100, 500):
        sub = emb.filter(F.col("vec_id") < n_base)
        shifted = sub.select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
        )
        both = sub.unionByName(shifted)
        # no n_planes/bands/dim/n_est: count + probe jobs run inside
        found = {
            (r.key_a, r.key_b)
            for r in embedding_near_dup_pairs(both, threshold=0.999999).collect()
        }
        n = sub.count()
        assert n == n_base
        exact_twins = {(i, i + 10000) for i in range(n)}
        assert exact_twins <= found, (
            n_base,
            len(exact_twins - found),
        )


def _brute_mmr(vecs, qvec, k, depth, ln, ld, scale=1000):
    import math

    def rhu(x):
        v = float(x) * scale
        return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

    vq = {i: [rhu(x) for x in v] for i, v in vecs}
    qq = [rhu(x) for x in qvec]
    rel = {i: sum(a * b for a, b in zip(vq[i], qq)) for i in vq}
    cand = sorted(vq, key=lambda i: (-rel[i], i))[:depth]
    selected = []
    while len(selected) < k and len(selected) < len(cand):
        best = None
        for i in cand:
            if any(i == s[0] for s in selected):
                continue
            ms = max(
                (sum(a * b for a, b in zip(vq[i], vq[s[0]])) for s in selected),
                default=0,
            )
            mmr = ln * rel[i] - (ld - ln) * ms
            if best is None or (mmr, -i) > (best[2], -best[0]):
                best = (i, rel[i], mmr)
        selected.append(best)
    return [(r + 1, s[0], s[1], s[2]) for r, s in enumerate(selected)]


def test_mmr_brute_parity(spark):
    from jarvis_ocr_service_spark.functions.simsearch import mmr_topk

    # clustered vectors: plain top-k would pick near-duplicates of the
    # query cluster; MMR must interleave the other clusters
    vecs = []
    for i in range(30):
        c = i % 3
        base = [1.0, 0.0] if c == 0 else ([0.0, 1.0] if c == 1 else [0.7, 0.7])
        vecs.append((i, [base[0] + 0.001 * i, base[1] - 0.001 * i]))
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs], "vec_id long, embedding array<float>"
    )
    qvec = [1.0, 0.05]
    got = [
        (r.rank, r.key, r.rel, r.mmr_q)
        for r in mmr_topk(df, qvec, k=6, depth=15).orderBy("rank").collect()
    ]
    assert got == _brute_mmr(vecs, qvec, 6, 15, 7, 10)
    # at lambda=1/2 the redundancy penalty bites: picks span clusters,
    # while plain top-6 (the rel order) stays inside the query cluster
    got_half = [
        (r.rank, r.key, r.rel, r.mmr_q)
        for r in mmr_topk(df, qvec, k=6, depth=15, lambda_=(1, 2))
        .orderBy("rank")
        .collect()
    ]
    assert got_half == _brute_mmr(vecs, qvec, 6, 15, 1, 2)
    assert len({key % 3 for _, key, _, _ in got_half}) >= 2
    top6_rel = {key % 3 for _, key, _, _ in got[:1]}  # rel leader's cluster
    assert {key % 3 for _, key, _, _ in got_half} != top6_rel


def test_mmr_first_pick_is_max_relevance(spark):
    from jarvis_ocr_service_spark.functions.simsearch import mmr_topk

    vecs = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = mmr_topk(df, [1.0, 0.0], k=3, depth=10).orderBy("rank").collect()
    assert rows[0].key == 9  # max dot with the query
    assert rows[0].mmr_q == 7 * rows[0].rel  # empty-selection maxsim = 0


def test_mmr_validation_and_short_candidates(spark):
    import pytest as _pytest

    from jarvis_ocr_service_spark.functions.simsearch import mmr_topk

    df = spark.createDataFrame(
        [(0, [1.0]), (1, [0.5])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError):
        mmr_topk(df, [1.0], k=0)
    with _pytest.raises(ValueError):
        mmr_topk(df, [1.0], k=5, depth=3)
    with _pytest.raises(ValueError):
        mmr_topk(df, [1.0], lambda_=(0, 10))
    # k > candidate count: returns what exists
    rows = mmr_topk(df, [1.0], k=2, depth=2).collect()
    assert len(rows) == 2


def test_knn_graph_structure_and_brute_parity(spark):
    """Exact parity with a pure-Python mirror of the SAME banded
    algorithm (quantized planes, band collision candidates, quantized
    cosine, (cos desc, neighbor) top-k) — plus graph invariants."""
    import math as _math

    from jarvis_ocr_service_spark.functions.simsearch import (
        _hyperplanes_quantized,
        _round_half_up,
        knn_graph,
    )

    vecs = [
        (i, [_math.sin(0.1 * i + d) for d in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {}
    for r in knn_graph(df, 3, threshold=-1.0, n_planes=12, bands=4, dim=8).collect():
        got.setdefault(r.key, []).append((r.rank, r.neighbor, r.cos_sim))
    for k in got:
        got[k].sort()

    # brute mirror — float32 round-trip first (array<float> storage)
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    vq = {
        i: [_round_half_up(f32(x) * 1000) for x in v] for i, v in vecs
    }
    planes = _hyperplanes_quantized(8, 12)
    r_bits = 3  # 12 planes / 4 bands

    def band_keys(q):
        bits = [
            1 if sum(a * b for a, b in zip(q, p)) >= 0 else 0 for p in planes
        ]
        return {
            (1 << r_bits) * b
            + sum(bits[b * r_bits + j] << j for j in range(r_bits))
            for b in range(4)
        }

    bk = {i: band_keys(q) for i, q in vq.items()}
    cand = {
        (a, b)
        for a in vq
        for b in vq
        if a < b and bk[a] & bk[b]
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(vq[a], vq[b]))
        na = _math.sqrt(sum(x * x for x in vq[a]))
        nb = _math.sqrt(sum(x * x for x in vq[b]))
        return 0.0 if na == 0 or nb == 0 else d / (na * nb)

    per_key = {}
    for a, b in cand:
        c = cos(a, b)
        per_key.setdefault(a, []).append((b, c))
        per_key.setdefault(b, []).append((a, c))
    brute = {}
    for k, lst in per_key.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        brute[k] = [(r + 1, n, c) for r, (n, c) in enumerate(lst[:3])]
    assert got == brute
    # invariants: no self edges, ranks contiguous from 1, <= k rows/key
    for k, lst in got.items():
        assert all(n != k for _, n, _ in lst)
        assert [r for r, _, _ in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= 3


def test_pair_cosine_arrow_bit_identical(spark):
    """The Arrow/numpy pairwise scorer must reproduce
    quantized_cosine_col's double BIT-FOR-BIT (same exact int64 dot, same
    pinned IEEE expression), including the zero-norm branch and
    near-opposite vectors."""
    import random

    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.functions.simsearch import (
        pair_cosine_arrow,
        quantized_cosine_col,
    )

    rng = random.Random(11)
    rows = []
    for i in range(60):
        va = [rng.randint(-2000, 2000) for _ in range(16)]
        vb = [rng.randint(-2000, 2000) for _ in range(16)]
        if i % 7 == 0:
            vb = [0] * 16  # zero-norm branch
        if i % 5 == 0:
            vb = [-x for x in va]  # exactly-opposite: cos ~ -1.0
        rows.append((i, va, vb))
    df = spark.createDataFrame(
        rows, "pid long, vq_a array<long>, vq_b array<long>"
    )
    got = {
        r.pid: r.cos_sim
        for r in pair_cosine_arrow(df).select("pid", "cos_sim").collect()
    }
    exp = {
        r.pid: r.cos_sim
        for r in df.select(
            "pid",
            quantized_cosine_col(F.col("vq_a"), F.col("vq_b")).alias("cos_sim"),
        ).collect()
    }
    import struct

    for pid in exp:
        a = struct.pack("<d", exp[pid])
        b = struct.pack("<d", got[pid])
        assert a == b, (pid, exp[pid], got[pid])


def test_embedding_near_dup_pairs_unpersists_on_failed_build(spark, monkeypatch):
    """A plan build that throws after the staged frame is persisted must
    release it: the caller's scope does, on the way out."""
    from jarvis_ocr_service_spark.functions import simsearch
    from jarvis_ocr_service_spark.plans.caching import cache_scope

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    frame_cls = type(df)
    persisted = []
    real_persist = frame_cls.persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    def boom(*args, **kwargs):
        raise RuntimeError("injected plan-build failure")

    monkeypatch.setattr(frame_cls, "persist", spy)
    monkeypatch.setattr(simsearch, "pair_cosine_arrow", boom)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected"), cache_scope():
        simsearch.embedding_near_dup_pairs(
            df, threshold=0.9, n_planes=4, bands=2, dim=3
        )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    assert persisted
    for frame in persisted:
        level = frame.storageLevel
        assert not (level.useMemory or level.useDisk), level
