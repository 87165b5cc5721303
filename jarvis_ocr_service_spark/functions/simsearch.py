"""Similarity search over embedding columns (array<float>).

Three levels, all shuffle-minimal:

* ``cosine_topk`` — brute-force exact top-k against one query vector:
  the dot product / norms are pure JVM expressions (zip_with + aggregate
  inside whole-stage codegen — no Python), broadcast of the query vector,
  single TakeOrdered for the top-k. The 100-TB baseline: one scan, no
  shuffle beyond the final k rows.
* ``quantized_dot_topk`` — same shape but scoring in *integer* space
  (components quantized to round(x*1000)): exact integer math makes the
  result bit-reproducible in any engine — this is the oracle-checkable
  variant (float sums are order-dependent; integer sums are not).
* ``lsh_bucketed_topk`` — random-hyperplane LSH: h deterministic
  hyperplanes (seeded, data-independent) give a 2^h-bucket signature;
  search probes only the query's bucket (optionally Hamming<=r neighbor
  buckets). The scale path: candidate set shrinks ~2^h-fold; accuracy
  measured against brute force in tests.
"""

from __future__ import annotations

import hashlib
import math
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.plans.caching import cache_scope, persist


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _dot_long(a, b):
    """Exact integer dot product of two array<long> columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _round_half_up(x: float) -> int:
    """Half-away-from-zero (matches Spark F.round and SQL engines;
    Python's built-in round() is banker's rounding and would diverge)."""
    v = float(x)
    return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))


def quantized_vec(col, scale: int = 1000):
    """array<float> -> array<long> by round(x*scale), HALF_UP. The basis of
    every *deterministic* scoring path: integer sums are order-independent
    and reproducible in any engine."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale).cast("long")
    )


def quantized_cosine_col(aq, bq):
    """Deterministic cosine from two integer-quantized vectors: the dot and
    squared norms are exact integers; the final expression uses only
    correctly-rounded IEEE ops (int->double cast, sqrt, *, /) in a pinned
    order, so any engine reproduces the double bit-for-bit.

    NOTE (guide §4): `aggregate`/`zip_with` lambdas are interpreted — they
    never enter whole-stage codegen, ~1µs per element evaluation. Fine
    per ROW (scoring against one query, per-row band bits); catastrophic
    per PAIR over a join output (measured ~1.65 ms/pair at dim 64).
    Pairwise scoring paths use :func:`pair_cosine_arrow` instead."""
    dot = _dot_long(aq, bq)
    n2a = _dot_long(aq, aq)
    n2b = _dot_long(bq, bq)
    return F.when((n2a == 0) | (n2b == 0), F.lit(0.0)).otherwise(
        dot.cast("double")
        / (F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double")))
    )


def pair_cosine_arrow(
    pairs: DataFrame, a_col: str = "vq_a", b_col: str = "vq_b"
) -> DataFrame:
    """Append ``cos_sim`` = quantized cosine of two array<long> columns,
    computed batch-wise in numpy — bit-identical to
    :func:`quantized_cosine_col` (pinned by test_simsearch): the dot and
    squared norms are exact int64 (numpy int64 arithmetic == Java long
    arithmetic), and the final double expression replays the same pinned
    correctly-rounded IEEE tree dot / (sqrt(n2a) * sqrt(n2b)).

    Why: per-pair HOF aggregates are interpreted (never codegen) —
    ~1.65 ms/pair at dim 64; this stage is ~3 orders cheaper and turns
    semdedup's within-cluster pruning / the banded verify joins from the
    dominant cost into noise. Pass ONLY the columns the caller needs —
    the stage is opaque to column pruning."""
    import numpy as np

    from pyspark.sql import types as T

    schema = T.StructType(
        list(pairs.schema.fields) + [T.StructField("cos_sim", T.DoubleType(), True)]
    )

    def gen(batches):
        for b in batches:
            if not len(b):
                continue
            A = np.stack(b[a_col].to_numpy()).astype(np.int64, copy=False)
            B = np.stack(b[b_col].to_numpy()).astype(np.int64, copy=False)
            dot = np.einsum("ij,ij->i", A, B)
            n2a = np.einsum("ij,ij->i", A, A)
            n2b = np.einsum("ij,ij->i", B, B)
            zero = (n2a == 0) | (n2b == 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot.astype(np.float64) / (
                    np.sqrt(n2a.astype(np.float64))
                    * np.sqrt(n2b.astype(np.float64))
                )
            out = b.copy()
            out["cos_sim"] = np.where(zero, 0.0, cos)
            yield out

    return pairs.mapInPandas(gen, schema=schema)


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_col(a, b):
    """Cosine similarity of two array<numeric> columns (JVM-side)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: List[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine_col(F.col(vec_col).cast("array<double>"), q).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def quantized_dot_topk(
    df: DataFrame,
    query_vec: List[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Top-k by integer-quantized dot product — exact, order-independent,
    reproducible bit-for-bit in any SQL engine (the oracle variant)."""
    # half-away-from-zero to match Spark F.round (HALF_UP) and SQL engines;
    # Python's built-in round() is banker's rounding and would diverge.
    def _r(x: float) -> int:
        v = float(x) * scale
        return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

    qq = [_r(x) for x in query_vec]
    q = F.array(*[F.lit(v).cast("long") for v in qq])
    vec_q = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    dot = F.aggregate(
        F.zip_with(vec_q, q, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        df.select(F.col(id_col), dot.alias("dot_q"))
        .orderBy(F.desc("dot_q"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_quantized(
    df: DataFrame,
    query_vec: List[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Exact top-k by *quantized* cosine — the oracle-checkable variant of
    :func:`cosine_topk` (float sums are order-dependent; the quantized
    score is a pinned function of exact integers, identical in any engine).
    Returns (id, cos_sim) with cos_sim the deterministic double."""
    qq = [_round_half_up(float(x) * scale) for x in query_vec]
    n2q = sum(v * v for v in qq)  # exact, driver-side
    q = F.array(*[F.lit(v).cast("long") for v in qq])
    staged = df.select(
        F.col(id_col), quantized_vec(F.col(vec_col), scale).alias("_vq")
    )
    dot = _dot_long(F.col("_vq"), q)
    n2v = _dot_long(F.col("_vq"), F.col("_vq"))
    cos = F.when((n2v == 0) | (F.lit(n2q) == 0), F.lit(0.0)).otherwise(
        dot.cast("double")
        / (F.sqrt(n2v.cast("double")) * F.sqrt(F.lit(n2q).cast("double")))
    )
    return (
        staged.select(F.col(id_col), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplanes, deterministic seed)
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> List[List[float]]:
    """Deterministic pseudo-random unit hyperplanes from sha256 counters
    (pure function of (dim, n_planes, seed) — no RNG state)."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{d}".encode()).digest()
            u = int.from_bytes(h[:8], "big") / 2**64  # [0,1)
            v = int.from_bytes(h[8:16], "big") / 2**64
            # Box-Muller for a gaussian component
            vals.append(
                math.sqrt(-2.0 * math.log(max(u, 1e-12)))
                * math.cos(2.0 * math.pi * v)
            )
        n = math.sqrt(sum(x * x for x in vals)) or 1.0
        planes.append([x / n for x in vals])
    return planes


def lsh_bucket_col(vec_col, planes: List[List[float]]):
    """Signature bucket id (0..2^h-1) from hyperplane sign bits, JVM-side."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = (_dot(vec_col.cast("array<double>"), p) >= 0).cast("int")
        bucket = bucket + bit * (2**i)
    return bucket


def _hyperplanes_quantized(
    dim: int, n_planes: int, seed: int = 42, pscale: int = 10**6
) -> List[List[int]]:
    """Integer-quantized hyperplanes: sign bits become exact integer
    comparisons — the bucket assignment is then engine-independent (a float
    dot near 0 could flip sign under a different summation order)."""
    return [
        [_round_half_up(x * pscale) for x in p]
        for p in _hyperplanes(dim, n_planes, seed)
    ]


def _sig_q(vq: List[int], planes_q: List[List[int]]) -> int:
    """Driver-side signature of a quantized vector (exact int math)."""
    b = 0
    for i, p in enumerate(planes_q):
        if sum(x * y for x, y in zip(vq, p)) >= 0:
            b |= 1 << i
    return b


def lsh_bucket_col_quantized(vq_col, planes_q: List[List[int]]):
    """Bucket id from quantized sign bits. ``vq_col`` must be the staged
    array<long> column (it is referenced once per plane — stage it as a
    real column, don't inline the quantization transform n_planes times)."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes_q):
        p = F.array(*[F.lit(int(x)).cast("long") for x in plane])
        bit = (_dot_long(vq_col, p) >= 0).cast("int")
        bucket = bucket + bit * (2**i)
    return bucket


def lsh_bucketed_topk_quantized(
    df: DataFrame,
    query_vec: List[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    seed: int = 42,
    probe_hamming: int = 1,
    scale: int = 1000,
) -> DataFrame:
    """ANN top-k, fully deterministic: quantized-integer bucket assignment
    (multi-probe within ``probe_hamming`` bits of the query's bucket) and
    quantized cosine scoring — the oracle-checkable variant of
    :func:`lsh_bucketed_topk`."""
    dim = len(query_vec)
    planes_q = _hyperplanes_quantized(dim, n_planes, seed)
    qq = [_round_half_up(float(x) * scale) for x in query_vec]
    n2q = sum(v * v for v in qq)
    qsig = _sig_q(qq, planes_q)
    probe = [
        b for b in range(2**n_planes) if bin(b ^ qsig).count("1") <= probe_hamming
    ]
    staged = df.select(
        F.col(id_col), quantized_vec(F.col(vec_col), scale).alias("_vq")
    )
    bucketed = staged.withColumn(
        "_bucket", lsh_bucket_col_quantized(F.col("_vq"), planes_q)
    )
    cand = bucketed.filter(F.col("_bucket").isin(probe))
    q = F.array(*[F.lit(v).cast("long") for v in qq])
    dot = _dot_long(F.col("_vq"), q)
    n2v = _dot_long(F.col("_vq"), F.col("_vq"))
    cos = F.when((n2v == 0) | (F.lit(n2q) == 0), F.lit(0.0)).otherwise(
        dot.cast("double")
        / (F.sqrt(n2v.cast("double")) * F.sqrt(F.lit(n2q).cast("double")))
    )
    return (
        cand.select(F.col(id_col), cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: List[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k: score only vectors whose LSH bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe)."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)

    def sig(vec: List[float]) -> int:
        b = 0
        for i, plane in enumerate(planes):
            if sum(x * y for x, y in zip(vec, plane)) >= 0:
                b |= 1 << i
        return b

    qsig = sig([float(x) for x in query_vec])
    probe = [
        b for b in range(2**n_planes) if bin(b ^ qsig).count("1") <= probe_hamming
    ]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    bucketed = df.withColumn("_bucket", lsh_bucket_col(F.col(vec_col), planes))
    cand = bucketed.filter(F.col("_bucket").isin(probe))
    scored = cand.select(
        F.col(id_col),
        cosine_col(F.col(vec_col).cast("array<double>"), q).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + probed lists
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> List[List[float]]:
    """Deterministic coarse quantizer: seeds = the ``n_centroids`` vectors
    with the smallest ids, then ``iters`` Lloyd steps. Each step is one
    distributed pass (assignment JVM-side against broadcast centroid
    literals, centroid update via groupBy mean) + a tiny driver collect of
    the k centroids — the standard Spark shape for iterative algorithms.
    """
    seeds = (
        df.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seeds]
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = df.select(
            F.col(vec_col).cast("array<double>").alias("v"),
            _nearest_centroid_col(F.col(vec_col), centroids).alias("c"),
        )
        rows = (
            assigned.groupBy("c")
            .agg(
                F.array(
                    *[F.avg(F.element_at("v", i + 1)) for i in range(dim)]
                ).alias("mean_v"),
            )
            .collect()
        )
        new = list(centroids)
        for r in rows:
            new[r["c"]] = [float(x) for x in r["mean_v"]]
        centroids = new
    return centroids


def _nearest_centroid_col(vec_col, centroids: List[List[float]]):
    """argmin_c ||v - c||^2 as a JVM expression (expanded: c.c - 2 v.c;
    v.v constant per row). Strictly-less update -> deterministic ties."""
    v = vec_col.cast("array<double>")
    best_idx = F.lit(0)
    best_score = None
    for i, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(x)) for x in c])
        cc = float(sum(x * x for x in c))
        score = F.lit(cc) - 2.0 * _dot(v, carr)
        if best_score is None:
            best_score = score
        else:
            better = score < best_score
            best_idx = F.when(better, F.lit(i)).otherwise(best_idx)
            best_score = F.when(better, score).otherwise(best_score)
    return best_idx


def ivf_topk(
    df: DataFrame,
    query_vec: List[float],
    k: int = 10,
    centroids: Optional[List[List[float]]] = None,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: score only vectors assigned to the ``n_probe`` centroids
    nearest the query. At scale the assignment is a persisted column and
    the probe a partition-pruned scan; here it is computed inline."""
    if centroids is None:
        centroids = train_ivf_centroids(df, n_centroids, vec_col=vec_col, id_col=id_col)
    q = [float(x) for x in query_vec]

    def d2(c):
        return sum((a - b) ** 2 for a, b in zip(q, c))

    probe = sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))[:n_probe]
    assigned = df.withColumn("_list", _nearest_centroid_col(F.col(vec_col), centroids))
    cand = assigned.filter(F.col("_list").isin(probe))
    qcol = F.array(*[F.lit(x) for x in q])
    return (
        cand.select(
            F.col(id_col),
            cosine_col(F.col(vec_col).cast("array<double>"), qcol).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def auto_lsh_params(
    threshold: float,
    n_est: int,
    target_recall: float = 0.99,
    max_bands: int = 16,
) -> tuple:
    """Size (n_planes, bands) for banded sign-bit LSH from the corpus size.

    r (bits per band) targets ~1 expected doc per band-bucket
    (r = log2(n_est), clamped to [4, 16] — beyond ~10^5-row band keys,
    rely on ``max_bucket`` capping instead of ever-longer keys); bands
    are then chosen so recall for a pair at exactly ``threshold`` is
    >= ``target_recall``: per-plane agreement p = 1 - acos(t)/pi, recall
    = 1-(1-p^r)^bands. Pure function — callers (and SQL oracles) can
    compute identical parameters on both sides.
    """
    import math

    t = min(max(float(threshold), -1.0), 1.0)
    p = 1.0 - math.acos(t) / math.pi
    r = min(16, max(4, math.ceil(math.log2(max(int(n_est), 2)))))
    pr = p**r
    if pr >= 1.0:
        bands = 1
    else:
        bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr)))
    bands = min(max_bands, bands)
    return r * bands, bands


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: Optional[int] = None,
    bands: Optional[int] = None,
    seed: int = 42,
    scale: int = 1000,
    max_bucket: int = 0,
    dim: Optional[int] = None,
    n_est: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, *banded* LSH-blocked.

    Scale shape (the r1 single-bucket version was a 100-TB killer):

    * ``n_planes`` quantized-integer sign bits split into ``bands`` bands
      of r = n_planes/bands bits; a pair is a candidate iff it agrees on
      >=1 whole band (OR over bands, like MinHash-LSH). With cos >= 0.95
      (plane-split prob ~0.10) and 6 bands of 4 bits: recall ~1-(1-0.9^4)^6
      ~ 0.998, while a random pair collides on a band with p ~ 6/16 per
      band-key distribution rather than landing in one of only 2^6 global
      buckets — in-bucket pair counts grow per-band-key, tunable by r.
    * recall is tunable (more bands), candidate width is tunable (wider
      bands), and ``max_bucket`` > 0 caps any single (band, key) bucket —
      degenerate mega-buckets (e.g. a corpus of near-zero vectors) are
      dropped from candidate generation rather than exploding the join
      (documented recall tradeoff, off by default).
    * bucket bits come from exact integer dots (quantized planes+vectors),
      and verification uses the deterministic quantized cosine — the whole
      operator is SQL-oracle-checkable.

    ``n_planes``/``bands`` default to :func:`auto_lsh_params` sized from
    ``n_est`` (or a count job when absent) — callers no longer hand-tune
    per corpus. ``dim`` skips the 1-row probe job when the caller knows
    the embedding width (any fixed-dim production table does).

    Returns (key_a, key_b, cos_sim), key_a < key_b, cos_sim >= threshold.
    """
    if (n_planes is None) != (bands is None):
        raise ValueError("pass both n_planes and bands, or neither (auto)")
    if n_planes is None:
        if n_est is None:
            n_est = df.count()
        n_planes, bands = auto_lsh_params(threshold, n_est)
    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    r = n_planes // bands
    if dim is None:
        dim = len(df.select(vec_col).first()[0])  # 1-row driver probe
    planes_q = _hyperplanes_quantized(dim, n_planes, seed)
    # ONE Arrow stage computes (k, vq, band keys): quantization is the
    # pinned HALF_UP mirror of F.round, the plane bits are exact int64
    # matmul signs (identical to per-plane _dot_long — int64 arithmetic
    # is int64 arithmetic in either engine). The former JVM form ran
    # n_planes interpreted HOF dot products per row (~10ms/row at 48
    # planes x dim 64 — guide §4); this is one numpy matmul per batch.
    # PERSISTED: the frame feeds both sides of the band self-join and the
    # two verify joins — four traversals of the same tiny (k, vq, bkeys)
    # projection.
    import numpy as np

    from pyspark.sql import types as T

    P = np.asarray(planes_q, dtype=np.int64)  # (n_planes, dim)
    key_field = df.schema[id_col]
    staged_schema = T.StructType(
        [
            T.StructField("k", key_field.dataType, key_field.nullable),
            T.StructField("vq", T.ArrayType(T.LongType()), True),
            T.StructField("bkeys", T.ArrayType(T.LongType()), True),
        ]
    )
    scale_f = float(scale)
    n_b, r_b = bands, r

    def stage(batches):
        import pandas as pd

        shifts = (1 << np.arange(r_b, dtype=np.int64))
        for b in batches:
            if not len(b):
                continue
            vecs = b[vec_col]
            ok = np.fromiter(
                (v is not None and len(v) == P.shape[1] for v in vecs),
                dtype=bool,
                count=len(b),
            )
            vq_out = [None] * len(b)
            bk_out = [None] * len(b)
            idx = np.nonzero(ok)[0]
            if len(idx):
                X = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64) for i in idx])
                bad = ~np.isfinite(X).all(axis=1)
                v = X * scale_f
                # HALF_UP mirror of F.round (same rule as _round_half_up)
                VQ = np.where(v >= 0, np.floor(v + 0.5), -np.floor(-v + 0.5)).astype(
                    np.int64
                )
                bits = (VQ @ P.T) >= 0  # (n, n_planes) exact int64 dots
                keys = np.empty((len(idx), n_b), dtype=np.int64)
                for band in range(n_b):
                    keys[:, band] = (
                        bits[:, band * r_b : (band + 1) * r_b] * shifts
                    ).sum(axis=1)
                for j, i in enumerate(idx):
                    if bad[j]:
                        continue  # non-finite component -> null (JVM parity)
                    vq_out[i] = VQ[j].tolist()
                    bk_out[i] = keys[j].tolist()
            yield pd.DataFrame({"k": b[id_col], "vq": vq_out, "bkeys": bk_out})

    staged = persist(
        df.select(id_col, vec_col).mapInPandas(stage, schema=staged_schema)
    )
    banded = staged.select(
        "k",
        F.posexplode("bkeys").alias("band", "bkey"),
    )
    if max_bucket:
        widths = banded.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("_w")
        )
        banded = banded.join(
            widths.filter(F.col("_w") <= max_bucket).drop("_w"),
            ["band", "bkey"],
        )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    vq_only = staged.select("k", "vq")
    pairs = cand.join(
        vq_only.withColumnRenamed("k", "key_a").withColumnRenamed("vq", "vq_a"),
        "key_a",
    ).join(
        vq_only.withColumnRenamed("k", "key_b").withColumnRenamed("vq", "vq_b"),
        "key_b",
    )
    # pairwise scoring in the Arrow/numpy stage (bit-identical to
    # quantized_cosine_col; interpreted per-pair HOFs were the dominant
    # cost of the whole operator — guide §4)
    out = pair_cosine_arrow(pairs.select("key_a", "key_b", "vq_a", "vq_b"))
    if float(threshold) > -1.0:
        out = out.filter(F.col("cos_sim") >= float(threshold))
    # threshold <= -1 means "rank ALL candidates" (knn_graph's sentinel):
    # make that structural rather than a float comparison — the quantized
    # cosine of near-opposite vectors can round to just below -1.0, and a
    # `>= -1.0` filter would silently drop that edge (r6 ADVICE item).
    return out.select("key_a", "key_b", "cos_sim")


def mmr_topk(
    df: DataFrame,
    query_vec: List[float],
    k: int = 5,
    depth: int = 20,
    lambda_: tuple = (7, 10),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diverse
    top-k: greedily select the candidate maximizing
    ``λ·rel − (1−λ)·max_sim_to_selected`` — the retrieval-diversity op
    (RAG context dedup, diverse few-shot mining) that plain top-k
    lacks: near-duplicate hits crowd out coverage.

    ALL-INTEGER with ``lambda_ = (ln, ld)`` rational (default 7/10):
    relevance and pairwise similarity are quantized dot products
    (:func:`quantized_vec`, HALF_UP ×``scale``) and the selection
    statistic clears the denominator:

        mmr_q = ln * rel − (ld − ln) * maxsim
        maxsim over the empty selection = 0   (pinned convention)

    ties break on key — a total order, so any engine reproduces the
    selection sequence exactly. Returns ``(rank, key, rel, mmr_q)``
    (rank 1-based in selection order).

    Shape: ONE distributed pass builds the top-``depth`` candidate
    list (TakeOrderedAndProject on the quantized relevance — the
    corpus-scale stage); the k greedy rounds then run over the
    persisted ``depth``-row frame with the selected vectors embedded
    as literals (the kmeans constant-lineage pattern: each round's
    plan is fresh from the cached candidates, one 1-row collect per
    round). Cost = corpus top-depth + k × O(depth) — depth and k are
    retrieval knobs, never corpus-sized."""
    ln, ld = int(lambda_[0]), int(lambda_[1])
    if not (0 < ln <= ld):
        raise ValueError("lambda_ must be a rational in (0, 1] as (num, den)")
    if k < 1 or depth < k:
        raise ValueError("need 1 <= k <= depth")
    qq = [_round_half_up(float(x) * scale) for x in query_vec]
    qlit = F.array(*[F.lit(v).cast("long") for v in qq])
    # the candidate cache is consumed here, eagerly: its lifetime ends
    # with this call
    with cache_scope():
        cand = persist(
            df.select(
                F.col(id_col).alias("key"),
                quantized_vec(F.col(vec_col), scale).alias("_vq"),
            )
            .withColumn("rel", _dot_long(F.col("_vq"), qlit))
            .orderBy(F.desc("rel"), F.col("key"))
            .limit(int(depth))
        )
        selected = []  # rows of (key, rel, mmr_q, vq)
        for _ in range(int(k)):
            remaining = cand
            for s in selected:
                remaining = remaining.filter(F.col("key") != s[0])
            if selected:
                sims = [
                    _dot_long(
                        F.col("_vq"),
                        F.array(*[F.lit(int(v)).cast("long") for v in s[3]]),
                    )
                    for s in selected
                ]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            else:
                maxsim = F.lit(0).cast("long")
            pick = (
                remaining.withColumn("_ms", maxsim)
                .withColumn(
                    "_mmr",
                    (F.lit(ln) * F.col("rel") - F.lit(ld - ln) * F.col("_ms"))
                    .cast("long"),
                )
                .orderBy(F.desc("_mmr"), F.col("key"))
                .limit(1)
                .collect()
            )
            if not pick:
                break  # fewer than k candidates
            r = pick[0]
            selected.append((r.key, r.rel, r._mmr, list(r._vq)))
    from pyspark.sql import types as T

    key_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("rank", T.LongType(), False),
            T.StructField("key", key_type, True),
            T.StructField("rel", T.LongType(), True),
            T.StructField("mmr_q", T.LongType(), True),
        ]
    )
    spark = df.sparkSession
    return spark.createDataFrame(
        [(i + 1, s[0], s[1], s[2]) for i, s in enumerate(selected)], schema
    )


def knn_graph(
    df: DataFrame,
    k: int,
    threshold: float = -1.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: Optional[int] = None,
    bands: Optional[int] = None,
    seed: int = 42,
    scale: int = 1000,
    max_bucket: int = 0,
    dim: Optional[int] = None,
    n_est: Optional[int] = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over an embedding corpus —
    the substrate of graph-based curation (SemDeDup-style pruning,
    connected-component topic islands, label propagation): for every
    vector, its top-``k`` banded-LSH candidates by deterministic
    quantized cosine. Returns ``(key, neighbor, cos_sim, rank)``
    (rank 1-based, ties broken on neighbor — a total order).

    Honest recall note: neighbors are ranked AMONG band-colliding
    candidates (the same tunable recall as
    :func:`embedding_near_dup_pairs` — more/narrower bands = higher
    recall/wider candidates); a vector whose true neighbor never
    shares a band ranks whatever it DID collide with. That is the
    standard ANN-graph trade at corpus scale.

    Plan: the banded candidate join (bucketed equi-join, `max_bucket`
    guard available), symmetrize (each undirected pair feeds both
    endpoints' lists), then ONE window partitioned by key — never a
    global sort; per-key candidate width is band-bounded."""
    if k < 1:
        raise ValueError("k must be >= 1")
    pairs = embedding_near_dup_pairs(
        df,
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        n_planes=n_planes,
        bands=bands,
        seed=seed,
        scale=scale,
        max_bucket=max_bucket,
        dim=dim,
        n_est=n_est,
    )
    # the symmetrize union references `pairs` twice — without the persist
    # the whole banded join + verify pipeline runs twice
    pairs = persist(pairs)
    sym = pairs.select(
        F.col("key_a").alias("key"),
        F.col("key_b").alias("neighbor"),
        "cos_sim",
    ).unionByName(
        pairs.select(
            F.col("key_b").alias("key"),
            F.col("key_a").alias("neighbor"),
            "cos_sim",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(
        F.desc("cos_sim"), F.col("neighbor")
    )
    return sym.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= int(k)
    )
