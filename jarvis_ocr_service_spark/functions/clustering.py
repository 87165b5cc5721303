"""Quantized k-means over embedding columns + SemDeDup semantic dedup.

No counterpart in the reference (alexberardi/jarvis-ocr-service has no
embedding ops) — this is the LLM-pipeline brief's clustering layer, the
blocking structure SemDeDup (Abbas et al. 2023, arXiv:2303.09540) uses
to make semantic dedup tractable: k-means the corpus, then compare
pairs only *within* a cluster (sum of cluster_size^2 instead of
corpus^2; at 100 TB pick k ~ corpus/1000 so clusters stay joinable).

Everything is exact integer arithmetic so any engine reproduces it
bit-for-bit (the repo's standing oracle rule):

* coordinates quantize to ``round(x*scale)`` (HALF_UP, matching
  ``F.round`` and SQL ``round``), then shift by ``+OFFSET`` so every
  value is nonnegative — truncating integer division (Spark ``div``,
  DuckDB ``//``) then equals floor division in both engines, which
  makes the centroid mean deterministic. Distances are shift-invariant
  and centroids shift consistently (floor(sum(q+OFF)/n) = OFF +
  floor(sum(q)/n)), so the shift never leaks into results.
* assignment = argmin of the exact int64 squared L2 distance,
  tie-break lowest cluster id (numpy argmin picks the first minimum;
  the oracle's ``ORDER BY dist2, cluster`` matches).
* init = the k rows with smallest id, in id order (cluster j is the
  j-th smallest id's vector) — deterministic, no RNG.
* empty clusters keep their previous centroid (pinned rule).

Scale shape (how this survives 1000 executors):

* the quantized base table is computed once in an Arrow stage and
  local-checkpointed (the fit loop reads it with an action every round);
  per-iteration lineage is CONSTANT (assignment recomputes from the
  checkpointed base + a driver-side centroid literal), so no round is
  checkpointed — unlike pagerank's growing chain.
* each iteration is ONE Arrow ``mapInPandas`` pass that both assigns
  points and emits per-batch per-(cluster, dim) partial sums; the only
  shuffle is the k*dim-row partial aggregate (map-side combined), and
  the driver collects exactly k*dim rows per round. Centroids (k*dim
  int64, e.g. 50k clusters x 1k dims = 400 MB worst case, typically
  ~kB) ride to executors in the task closure.
* distance evaluation is numpy int64 (exact), chunked so the
  (batch, k, dim) intermediate stays bounded via ``chunk_rows``.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.simsearch import (
    quantized_cosine_col,
    quantized_vec,
)
from jarvis_ocr_service_spark.plans.caching import local_checkpoint, release

#: shift making every quantized coordinate nonnegative (|round(x*scale)|
#: must stay below this — asserted in the quantize stage). 2^20 keeps the
#: per-cluster coordinate sum under int64 overflow up to ~4e12 members
#: per cluster (n * 2^21 < 2^63); with scale=1000 it admits |x| < 1048,
#: far beyond any normalized embedding.
OFFSET = 1 << 20


def _quantize_shift_np(mat: np.ndarray, scale: int) -> np.ndarray:
    """round(x*scale) HALF_UP (away from zero, = F.round / SQL round on
    doubles) then +OFFSET, as exact int64. NaN fails the envelope check
    (it would cast to garbage)."""
    v = mat.astype(np.float64) * float(scale)
    q = np.where(v >= 0.0, np.floor(v + 0.5), np.ceil(v - 0.5))
    if not (np.abs(q) < float(OFFSET)).all():
        raise ValueError("quantized coordinate exceeds OFFSET envelope")
    return q.astype(np.int64) + OFFSET


def _quantized_base(
    df: DataFrame, vec_col: str, id_col: str, scale: int
) -> DataFrame:
    """(id, q array<long>) with shifted quantized coordinates; ``q`` is
    null for a null vector or one with a null (or NaN) element, which
    k-means leaves out of the fit and assigns to no cluster."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf[vec_col]
            ok = vecs.map(lambda v: v is not None and not pd.isna(v).any())
            mat = np.array(list(vecs[ok]), dtype=np.float64)
            rows = iter(_quantize_shift_np(mat, scale))
            q = [next(rows) if good else None for good in ok]
            yield pd.DataFrame({"id": pdf[id_col].values, "q": q})

    return df.select(id_col, vec_col).mapInPandas(
        gen, schema="id long, q array<long>"
    )


def _assign_np(
    q: np.ndarray, cent: np.ndarray, chunk_rows: int
) -> Tuple[np.ndarray, np.ndarray]:
    """Exact int64 argmin assignment; returns (cluster, dist2)."""
    out_c = np.empty(len(q), dtype=np.int64)
    out_d = np.empty(len(q), dtype=np.int64)
    for lo in range(0, len(q), chunk_rows):
        part = q[lo : lo + chunk_rows]
        diff = part[:, None, :] - cent[None, :, :]
        d2 = (diff * diff).sum(axis=2)
        c = d2.argmin(axis=1)  # first minimum = lowest cluster id
        out_c[lo : lo + chunk_rows] = c
        out_d[lo : lo + chunk_rows] = d2[np.arange(len(part)), c]
    return out_c, out_d


def _fit_centroids(
    pts: DataFrame, k: int, iters: int, chunk_rows: int
) -> np.ndarray:
    """Fit loop over the checkpointed quantized base: smallest-id init,
    ``iters`` (assign, update) rounds; returns the (k, dim) int64
    centroid matrix. Points with a null ``q`` take no part."""
    pts = pts.filter(F.col("q").isNotNull())
    init = pts.orderBy("id").limit(k).collect()  # TakeOrdered, k rows
    if len(init) < k:
        raise ValueError(f"k={k} but only {len(init)} points")
    cent = np.array([r["q"] for r in init], dtype=np.int64)
    dim = cent.shape[1]

    for _ in range(iters):
        cent_bc = cent  # closure capture (k*dim int64)

        def partials(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                q = np.array(list(pdf["q"]), dtype=np.int64)
                c, _ = _assign_np(q, cent_bc, chunk_rows)
                for cl in np.unique(c):
                    member = q[c == cl]
                    yield pd.DataFrame(
                        {
                            "cluster": np.full(dim, cl, dtype=np.int64),
                            "pos": np.arange(dim, dtype=np.int64),
                            "s": member.sum(axis=0, dtype=np.int64),
                            "n": np.full(dim, len(member), dtype=np.int64),
                        }
                    )

        agg = (
            pts.mapInPandas(
                partials, schema="cluster long, pos long, s long, n long"
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum("s").alias("s"),
                F.sum("n").alias("n"),  # same n per pos within a batch
            )
            .collect()
        )  # exactly k*dim rows max
        new_cent = cent.copy()
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for r in agg:
            sums[r["cluster"], r["pos"]] = r["s"]
            if r["pos"] == 0:
                counts[r["cluster"]] = r["n"]
        for c in range(k):
            if counts[c] > 0:  # empty cluster keeps previous centroid
                new_cent[c] = sums[c] // counts[c]  # floor, nonneg
        cent = new_cent
    return cent


def kmeans_assign(
    df: DataFrame,
    k: int,
    iters: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    chunk_rows: int = 4096,
) -> DataFrame:
    """Deterministic quantized k-means; returns (id, cluster, dist2)
    against the centroids after ``iters`` update rounds.

    ``iters`` full (assign, update) rounds run first; the returned frame
    is one final assignment pass against the resulting centroids, with
    ``dist2`` the exact int64 squared quantized L2 distance. A null
    vector, or one with a null element, is left out of the fit and gets
    a null ``cluster`` and ``dist2`` (one output row per input row)."""
    if k < 1 or iters < 0:
        raise ValueError("k >= 1 and iters >= 0 required")
    pts = local_checkpoint(_quantized_base(df, vec_col, id_col, scale))
    try:
        cent_fin = _fit_centroids(pts, k, iters, chunk_rows)

        def final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ok = pdf["q"].notna().to_numpy()
                c = pd.array([None] * len(pdf), dtype="Int64")
                d2 = c.copy()
                if ok.any():
                    q = np.array(list(pdf["q"][ok]), dtype=np.int64)
                    c[ok], d2[ok] = _assign_np(q, cent_fin, chunk_rows)
                yield pd.DataFrame(
                    {"id": pdf["id"].values, "cluster": c, "dist2": d2}
                )

        out = pts.mapInPandas(
            final, schema="id long, cluster long, dist2 long"
        )
        # materialize before release(pts) frees the base it reads
        out = local_checkpoint(out)
        return out.withColumnRenamed("id", id_col)
    finally:
        release(pts)


def ivf_topk_quantized(
    df: DataFrame,
    query_vec: List[float],
    k: int = 10,
    n_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    chunk_rows: int = 4096,
) -> DataFrame:
    """IVF approximate nearest neighbors, deterministic quantized form:
    k-means the corpus into ``n_clusters`` inverted lists, rank lists
    by centroid distance to the query, score ONLY the ``nprobe``
    nearest lists with the exact quantized cosine (simsearch's
    deterministic scoring), top-k.

    The oracle-checkable twin of ``simsearch.ivf_topk`` (float Lloyd
    steps, pure-JVM scoring — the fast library path), exactly as
    ``cosine_topk_quantized`` twins ``cosine_topk``: float means are
    not cross-engine-reproducible, this integer form is.

    The scale path of the ANN family (FAISS's IndexIVF idea): brute
    force scans the corpus per query; hyperplane LSH probes fixed
    random buckets; IVF probes DATA-ADAPTIVE buckets, so recall per
    candidate scanned is higher on clustered corpora. Scanned fraction
    ~ nprobe/n_clusters. At production scale the assignment is
    computed once and stored as a partition column (the inverted
    file); queries then touch nprobe partitions — partition pruning
    does the list selection.

    Probe selection is driver-side exact int64 (centroid distance in
    the shifted quantized space, tie-break lowest cluster id); scoring
    matches cosine_topk_quantized bit-for-bit. Returns (id, cos_sim),
    cos_sim descending, id ascending. A null vector, or one with a null
    element, is never a candidate."""
    from jarvis_ocr_service_spark.functions.simsearch import (
        _round_half_up,
        quantized_cosine_col,
        quantized_vec,
    )

    if nprobe < 1 or nprobe > n_clusters:
        raise ValueError("1 <= nprobe <= n_clusters required")
    pts = local_checkpoint(_quantized_base(df, vec_col, id_col, scale))
    try:
        cent = _fit_centroids(pts, n_clusters, iters, chunk_rows)
        qs = _quantize_shift_np(
            np.array([query_vec], dtype=np.float64), scale
        )[0]
        d2 = ((cent - qs[None, :]) ** 2).sum(axis=1)
        probe = np.lexsort((np.arange(n_clusters), d2))[:nprobe]
        probe_set = set(int(c) for c in probe)
        cent_fin = cent

        def cand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                q = np.array(list(pdf["q"]), dtype=np.int64)
                c, _ = _assign_np(q, cent_fin, chunk_rows)
                keep = np.isin(c, list(probe_set))
                yield pd.DataFrame({"id": pdf["id"].values[keep]})

        ids = local_checkpoint(
            pts.filter(F.col("q").isNotNull()).mapInPandas(cand, schema="id long")
        )
    finally:
        release(pts)

    qq = [_round_half_up(float(x) * scale) for x in query_vec]
    qlit = F.array(*[F.lit(v).cast("long") for v in qq])
    scored = (
        df.join(ids, F.col(id_col) == F.col("id")).select(
            F.col(id_col),
            quantized_cosine_col(
                quantized_vec(F.col(vec_col), scale), qlit
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def semdedup(
    df: DataFrame,
    k: int,
    iters: int,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    max_cluster: int = 0,
) -> DataFrame:
    """SemDeDup: k-means blocking + within-cluster cosine pruning.

    Drops any point j for which a same-cluster point i with smaller id
    has quantized cosine >= ``threshold`` (keep-lowest-id rule — one
    representative per semantic group; note i itself being dropped does
    NOT rescue j, the rule is existential, pinned for oracle parity).
    Returns survivors (id, cluster).

    ``max_cluster`` > 0 excludes clusters larger than the cap from pair
    generation entirely (their members all survive) — the same
    degenerate-hot-bucket guard every banded join in this repo carries;
    at production scale prefer raising k instead.
    """
    assign = kmeans_assign(
        df, k, iters, vec_col=vec_col, id_col=id_col, scale=scale
    ).select(id_col, "cluster")
    vq = df.select(
        F.col(id_col).alias("_k"),
        quantized_vec(F.col(vec_col), scale).alias("_vq"),
    )
    member = assign.join(vq, F.col(id_col) == F.col("_k")).select(
        F.col(id_col).alias("_id"), "cluster", "_vq"
    )
    if max_cluster:
        # over-cap clusters never reach the grouped stage, whose pandas
        # frame holds a whole cluster: a width aggregate drops them first
        narrow = (
            member.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_width"))
            .filter(F.col("_width") <= int(max_cluster))
        )
        member = member.join(narrow, "cluster", "left_semi")
    # Within-cluster pruning as ONE grouped Arrow stage (applyInPandas):
    # each cluster's (id, vq) rows ship once (~0.5 KB/vector) and the
    # existential keep-lowest-id rule evaluates as blockwise exact-int64
    # Gram matmuls in numpy. The former pair JOIN materialized every
    # candidate pair row (O(sum cluster^2) rows x 2 vectors each) through
    # a shuffle whose parallelism was the CLUSTER-KEY count — measured
    # 103 s on the 4k-vector sf0.1 oracle corpus vs ~4 s for this form,
    # same O(sum cluster^2) arithmetic. Cosine is bit-identical to
    # quantized_cosine_col: exact int64 dots, then the same pinned IEEE
    # tree dot / (sqrt(n2a) * sqrt(n2b)); i < j compares the id values
    # exactly as the former a._id < b._id join predicate (pandas
    # sort_values + positional masks). A dropped i still drops j (the
    # rule is existential over ALL smaller-id members — pinned above).
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_field = member.schema["_id"]
    out_schema = T.StructType(
        [T.StructField("_dropped", id_field.dataType, id_field.nullable)]
    )
    thr = float(threshold)
    BLOCK = 2048  # bounds the per-task Gram block to O(BLOCK^2) doubles

    def _scorable(v) -> bool:
        # a null vector, or one with a null element, never pairs: its
        # cosine is null, so it neither drops nor is dropped
        return v is not None and not pd.isna(v).any()

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        """-> the ids this cluster drops."""
        none = pd.DataFrame({"_dropped": pdf["_id"].iloc[:0]})
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        vi = np.nonzero(pdf["_vq"].map(_scorable).to_numpy(dtype=bool))[0]
        n = len(vi)
        if n < 2:
            return none
        V = np.stack([np.asarray(pdf["_vq"].iloc[i], dtype=np.int64) for i in vi])
        ids = pdf["_id"].to_numpy()[vi]
        n2 = np.einsum("ij,ij->i", V, V)
        sq = np.sqrt(n2.astype(np.float64))
        keep = np.ones(n, dtype=bool)
        for s in range(1, n, BLOCK):
            e = min(s + BLOCK, n)
            hit = np.zeros(e - s, dtype=bool)
            for si in range(0, e, BLOCK):
                ei = min(si + BLOCK, e)
                M = V[si:ei] @ V[s:e].T
                with np.errstate(divide="ignore", invalid="ignore"):
                    C = M.astype(np.float64) / (
                        sq[si:ei, None] * sq[None, s:e]
                    )
                C = np.where(
                    (n2[si:ei, None] == 0) | (n2[None, s:e] == 0), 0.0, C
                )
                # strict id-VALUE comparison (not position) — exact
                # parity with the former a._id < b._id join predicate
                # even under duplicate ids
                ilt = ids[si:ei, None] < ids[None, s:e]
                hit |= ((C >= thr) & ilt).any(axis=0)
            keep[s:e] &= ~hit
        return pd.DataFrame({"_dropped": pdf["_id"].iloc[vi[~keep]]})

    dropped = member.groupBy("cluster").applyInPandas(prune, schema=out_schema)
    # survivors on the `assign` row basis: one output row per input row,
    # null ids included (an anti-join never matches null)
    return assign.join(
        dropped, F.col(id_col) == F.col("_dropped"), "left_anti"
    ).select(id_col, "cluster")
