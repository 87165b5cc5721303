"""Deduplication operators for large-scale training-data pipelines.

All signature computation is JVM-side (built-in functions over arrays —
``transform``/``array_min``/``md5``), so the only Python in any of these
is the SimHash bit-majority (vectorized pandas UDF). Shuffles happen only
where semantically required (the bucket-join / group-by), and candidate
generation is always *blocked* (LSH bands / frequency-ordered prefix
shingles) — never an O(n²) cross join.

Scale notes (100 TB):
  * exact dedup — single hash-shuffle on a 16-byte digest, not the text;
  * MinHash-LSH — signature is a narrow map-side projection; the explode
    factor is `bands` (default 8) small rows per doc; the band join is the
    one shuffle and AQE handles skewed buckets;
  * SimHash — one vectorized Arrow stage for signatures (batch numpy,
    md5 per distinct token), then a pigeonhole band join with
    bands = max_hamming+1 (complete recall by construction);
  * hash choices are md5/xxhash64 — deterministic, partition-independent,
    and (for md5) reproducible in any SQL engine for oracle checks.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jarvis_ocr_service_spark.plans.caching import local_checkpoint, persist, release


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def text_digest(col):
    """Canonical content digest: md5 of the UTF-8 bytes (portable)."""
    return F.md5(F.encode(col, "UTF-8"))


def dedup_exact(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep one row (min key) per distinct text. One shuffle on the digest."""
    return (
        df.withColumn("_digest", text_digest(F.col(text_col)))
        .groupBy("_digest")
        .agg(F.min(key_col).alias(key_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_digest")
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_count: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """CORPUS-LEVEL line dedup (the C4 / RefinedWeb hygiene rule):
    remove EVERY occurrence of any non-empty line whose total corpus
    occurrence count exceeds ``max_count`` — repeated lines across a
    crawl are boilerplate (cookie banners, nav text, licence footers),
    and at ``max_count=1`` any line seen twice anywhere is removed from
    everywhere. Empty lines are document structure: never counted,
    never removed. Returns (key, text) with surviving lines rejoined in
    their original order (a fully-boilerplate document comes back as
    "" rather than disappearing — removal reports must say so).

    Scale shape: posexplode (rows x lines/doc — the standard C4
    pipeline cost), ONE partial-agg shuffle of (line, count) rows to
    find hot lines, anti-join (AQE picks broadcast when the hot set is
    small), then a per-document rebuild: array_sort over (pos, line)
    structs + an interpreted F.transform — bounded by lines-per-doc
    (tens, not the >100-element HOF hot-path threshold)."""
    # F.split takes a Java REGEX; the rejoin (array_join) and the
    # DuckDB mirror (string_split) are literal — quote the separator
    # (\Q...\E, with embedded \E escaped) so a sep of "." or "|" splits
    # literally instead of on every character (found by review)
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(key_col).alias("key"),
        F.posexplode(F.split(F.col(text_col), sep_rx)).alias("pos", "line"),
    )
    hot = (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > int(max_count))
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy("key").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text")
    )
    return (
        df.select(F.col(key_col).alias("key"))
        .join(rebuilt, "key", "left")
        .select("key", F.coalesce("text", F.lit("")).alias("text"))
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_count: int = 1,
) -> DataFrame:
    """Corpus-level PARAGRAPH dedup — :func:`dedup_lines` at the
    blank-line unit (RefinedWeb removes exact duplicates at both
    granularities; paragraph removal kills repeated licence blocks and
    multi-line navigation that line dedup only shreds). Same shape:
    posexplode on the literal '\\n\\n' separator, ONE hot-unit
    shuffle, anti-join, in-order rebuild; all-boilerplate documents
    come back as "" (reported, not dropped)."""
    return dedup_lines(
        df, text_col=text_col, key_col=key_col, max_count=max_count,
        sep="\n\n",
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------

def word_shingles(col, k: int = 3, max_tokens: int = 0):
    """Distinct k-word shingles as an array column (JVM-side).

    ``max_tokens`` > 0 bounds the tokens shingled (standard near-dup
    practice: the first few thousand tokens identify a near-duplicate;
    unbounded shingling of 50KB docs costs quadratic-ish string churn).
    """
    toks = F.split(F.trim(col), r"\s+")
    if max_tokens:
        toks = F.slice(toks, 1, max_tokens)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(col, num_hashes: int = 16, k: int = 3):
    """Array of `num_hashes` minhash values.

    Hash family: ``md5(shingle || '#' || seed)`` (string min over hex —
    uniform, deterministic, portable to any SQL engine for oracles).

    Computed in ONE Arrow stage. The former JVM column form
    (word_shingles + per-seed ``transform``/``array_min``) was built from
    interpreted higher-order functions, which (a) never enter codegen and
    (b) are exempt from common-subexpression elimination — so a caller
    projecting ``sig.getItem(i)`` per element re-evaluated the ENTIRE
    shingle+hash tree per item (num_hashes² md5 transforms per row,
    measured 11.3 s -> 1.4 s on the sf0.1 oracle projection). Equal
    Python-UDF expressions ARE deduplicated (ExtractPythonUDFs), so the
    getItem projection evaluates the stage once. Semantics are pinned
    byte-identical to the old form (tests/test_dedup.py value-compares
    the mirror): Java-``\\s`` split of the space-trimmed text, the
    whole-text shingle when fewer than ``k`` tokens, first-occurrence
    distinct, lowercase md5 hex, ASCII string-min."""
    import hashlib
    import re as _re

    import pandas as pd

    from pyspark.sql import types as T

    java_ws = _re.compile(r"[ \t\n\x0b\f\r]+")
    tags = [f"#{seed}".encode() for seed in range(int(num_hashes))]
    kk = int(k)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                # mirror of the JVM null chain: null toks -> null per-seed
                # array_min -> an array of null elements
                out.append([None] * len(tags))
                continue
            toks = java_ws.split(t.strip(" "))
            if len(toks) < kk:
                shingles = [" ".join(toks)]
            else:
                shingles = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + kk])
                        for i in range(len(toks) - kk + 1)
                    )
                )
            enc = [s.encode() for s in shingles]
            out.append(
                [
                    min(hashlib.md5(e + tag).hexdigest() for e in enc)
                    for tag in tags
                ]
            )
        return pd.Series(out)

    return sig(col)


def _shingled_with_signatures(
    df: DataFrame,
    text_col: str,
    key_col: str,
    k: int,
    max_tokens: int,
    num_hashes: int,
) -> DataFrame:
    """(key, sh: array<long>, sig: array<long>) in one Arrow stage.

    ``sh`` is the document's DISTINCT k-word shingle set as 64-bit hashes
    (the h1 = low-uint64-of-md5 id of each shingle) — not the strings.
    Jaccard over the hashed sets equals Jaccard over the string sets
    (the map is injective modulo 64-bit md5 collisions), and the verify
    join then shuffles ~16 KB/doc instead of ~40 KB of strings — the
    string form measured a 65 GB shuffle footprint on a 300k-page
    composed-pipeline run (disk-DNF); the hashed form fits.

    Signature: double-hashing MinHash family — per distinct shingle s,
    (h1, h2) = the two uint64 halves of md5(s), and hash_i(s) = h1 + i*h2
    (mod 2^64); sig[i] = min over the document's shingles. md5 is paid
    once per *distinct shingle per batch* (crawl corpora repeat shingles
    heavily — same dict-dedup trick as winnowing); the 16-way min is one
    numpy (m x num_hashes) reduction per document, no per-element
    interpreted evaluation anywhere.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    key_field = df.schema[key_col]
    out_schema = T.StructType(
        [
            T.StructField("k", key_field.dataType, key_field.nullable),
            T.StructField("sh", T.ArrayType(T.LongType()), False),
            T.StructField("sig", T.ArrayType(T.LongType()), False),
        ]
    )
    n_h = int(num_hashes)

    def gen(batches):
        steps = np.arange(n_h, dtype=np.uint64)
        for b in batches:
            if not len(b):
                continue
            doc_shingles = []
            for t in b[text_col]:
                toks = (t or "").split()[: max_tokens or None]
                if len(toks) < k:
                    doc_shingles.append([" ".join(toks)])
                else:
                    doc_shingles.append(
                        list(
                            dict.fromkeys(
                                " ".join(toks[i : i + k])
                                for i in range(len(toks) - k + 1)
                            )
                        )
                    )
            index: dict = {}
            flat = [g for sh in doc_shingles for g in sh]
            inv = np.fromiter(
                (index.setdefault(g, len(index)) for g in flat),
                dtype=np.int64,
                count=len(flat),
            )
            dig = b"".join(hashlib.md5(g.encode()).digest() for g in index)
            halves = np.frombuffer(dig, dtype="<u8").reshape(-1, 2)
            h1, h2 = halves[:, 0], halves[:, 1]
            h1_signed = h1.astype(np.int64)
            sigs = []
            sh_ids = []
            pos = 0
            for sh in doc_shingles:
                m = len(sh)
                rows = inv[pos : pos + m]
                pos += m
                mat = h1[rows, None] + steps[None, :] * h2[rows, None]
                sigs.append(mat.min(axis=0).astype(np.int64).tolist())
                sh_ids.append(h1_signed[rows].tolist())
            yield pd.DataFrame(
                {"k": b[key_col], "sh": sh_ids, "sig": sigs}
            )

    return df.select(key_col, text_col).mapInPandas(gen, schema=out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    verify_threshold: float = 0.7,
    max_tokens: int = 2000,
    max_bucket: int = 0,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, verified with
    exact shingle-set Jaccard. Returns (key_a, key_b, jaccard), key_a<key_b.

    Physical shape (the part that matters at 10^12 rows):
      1. signatures + band hashes: pure map-side projection;
      2. the band self-join shuffles ONLY (key, band_hash) — never the
         shingle arrays;
      3. candidate pairs are de-duplicated *before* verification, then the
         (small) pair set joins back to the shingle table twice. Carrying
         arrays through the n^2-ish join instead is catastrophically slower
         (measured 70s -> 4s on the degenerate small-vocab corpus).

    Defaults 16 hashes / 4 bands (r=4): band-collision probability j^4 —
    j=0.9 dup collides >=1 band with p~0.94; j=0.3 noise p~0.03.

    ``max_bucket`` > 0 drops any (band, band_hash) bucket wider than the
    cap BEFORE the self-join — the same hot-key guard as
    simsearch.embedding_near_dup_pairs. On corpora whose shingle
    distribution has heavy atoms (tiny vocabularies, templated
    boilerplate), one hot band value can put O(corpus-fraction) of
    documents in a single bucket and the candidate set goes quadratic:
    measured 44+ GB of shuffle (disk-DNF) on a 150k-survivor small-vocab
    corpus with the guard off vs a bounded join with it on. A dropped
    bucket only loses pairs whose EVERY colliding band is hot — near-dups
    still collide on their other bands. Off by default; the prepare
    pipeline enables it.
    """
    rows_per_band = num_hashes // bands
    # Shingles + signatures in ONE Arrow stage (numpy double-hashing
    # family, batch-level shingle dedup). The previous JVM form staged the
    # shingle array and ran 16 interpreted `transform` lambdas over it —
    # higher-order functions never enter whole-stage codegen, so that is
    # ~32k interpreted element evaluations per 2000-token document,
    # measured 0.6 core-sec/doc (a composed-pipeline run over 300k pages
    # DNF'd at 10 min). This form: ~1.5 ms/doc (see test_dedup perf note).
    shingled = persist(  # referenced on both sides of the self-join + verify
        _shingled_with_signatures(df, text_col, key_col, k, max_tokens, num_hashes)
    )
    banded = shingled.select(
        "k",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at(F.col("sig"), b * rows_per_band + j + 1)
                            for j in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    if max_bucket:
        widths = banded.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_w")
        )
        banded = banded.join(
            widths.filter(F.col("_w") <= max_bucket).drop("_w"),
            ["band", "band_hash"],
        )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    sh_only = shingled.select("k", "sh")
    pairs = (
        cand.join(sh_only.withColumnRenamed("k", "key_a").withColumnRenamed("sh", "sh_a"), "key_a")
        .join(sh_only.withColumnRenamed("k", "key_b").withColumnRenamed("sh", "sh_b"), "key_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= verify_threshold)
        .select("key_a", "key_b", "jaccard")
    )


def minhash_lsh_pairs_between(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    verify_threshold: float = 0.7,
    max_tokens: int = 2000,
    max_bucket: int = 0,
) -> DataFrame:
    """CROSS-corpus near-duplicate pairs: (left_key, right_key, jaccard)
    for left docs within Jaccard >= threshold of a right doc — the
    incremental-ingest primitive (new batch vs committed corpus), where
    a self-join over batch ∪ corpus would re-pair the whole corpus
    against itself every run. Same banded shape as
    :func:`minhash_lsh_pairs` but the band join is left×right, so cost
    scales with |batch| × collision-rate, not |corpus|².

    ``max_bucket`` caps hot (band, band_hash) buckets measured on the
    RIGHT (corpus) side — the side that can concentrate templated mass.
    Keys need not be disjoint across the two tables (they're separate
    key spaces in the output columns)."""
    lsh_sh = persist(
        _shingled_with_signatures(left, text_col, key_col, k, max_tokens, num_hashes)
    )
    rsh_sh = persist(
        _shingled_with_signatures(right, text_col, key_col, k, max_tokens, num_hashes)
    )
    return minhash_lsh_pairs_between_sh(
        lsh_sh,
        rsh_sh,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
        max_bucket=max_bucket,
    )


def band_keys_from_sig(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(k, band, band_hash) from a (k, sh, sig) frame — JVM-side
    xxhash64 over each band's signature slice."""
    rows_per_band = num_hashes // bands
    return sh.select(
        "k",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.element_at(F.col("sig"), i * rows_per_band + j + 1)
                            for j in range(rows_per_band)
                        ]
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def minhash_lsh_pairs_between_sh(
    lsh_sh: DataFrame,
    rsh_sh: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.7,
    max_bucket: int = 0,
) -> DataFrame:
    """:func:`minhash_lsh_pairs_between` over PRECOMPUTED (k, sh, sig)
    frames (``_shingled_with_signatures`` output). The 10^12-row
    incremental-ingest refinement: the committed corpus's shingle
    hashes + signatures persist as a sidecar next to the output, so
    each new batch band-joins the sidecar instead of re-reading and
    re-signaturing the whole corpus text per increment — the corpus
    side becomes a columnar scan of (k, sh, sig), and band keys are
    derived JVM-side from ``sig`` (no Python touches the corpus)."""
    lsh_b = band_keys_from_sig(lsh_sh, num_hashes, bands)
    rsh_b = band_keys_from_sig(rsh_sh, num_hashes, bands)
    if max_bucket:
        widths = rsh_b.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_w")
        )
        ok = widths.filter(F.col("_w") <= max_bucket).drop("_w")
        rsh_b = rsh_b.join(ok, ["band", "band_hash"])
        lsh_b = lsh_b.join(ok, ["band", "band_hash"])
    cand = (
        lsh_b.alias("a")
        .join(
            rsh_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.k").alias("left_key"), F.col("b.k").alias("right_key")
        )
        .dropDuplicates(["left_key", "right_key"])
    )
    pairs = cand.join(
        lsh_sh.select(
            F.col("k").alias("left_key"), F.col("sh").alias("sh_a")
        ),
        "left_key",
    ).join(
        rsh_sh.select(
            F.col("k").alias("right_key"), F.col("sh").alias("sh_b")
        ),
        "right_key",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= verify_threshold)
        .select("left_key", "right_key", "jaccard")
    )


def minhash_bucket_clusters(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    verify_threshold: float = 0.0,
    max_tokens: int = 2000,
) -> DataFrame:
    """Near-duplicate clusters WITHOUT pairwise materialization — the
    trillion-row MinHash dedup shape (RefinedWeb / SlimPajama style).
    Returns (key, cluster): every document that shares a band bucket
    (transitively) with another is labeled with the minimum reachable
    key; documents colliding with nothing are absent.

    Why this exists next to :func:`minhash_lsh_pairs` + :func:`dup_clusters`:
    the pair route materializes every intra-bucket pair, which is
    quadratic in *cluster* size — a templated crawl corpus with
    million-document boilerplate cliques turns a bounded bucket join
    into ~w²/2 verified edges per clique and the connected-components
    rounds then shuffle that edge set repeatedly (measured: a 1M-page
    composed prepare run exhausted 75 GB of shuffle scratch in the CC
    phase; the 300k run fit). Here each bucket of width w contributes
    exactly w-1 edges (member -> bucket-min representative), so the CC
    edge set is <= docs × bands REGARDLESS of clique structure, and no
    ``max_bucket`` recall-losing guard is needed at all — a mega-bucket
    is linear, not quadratic.

    ``verify_threshold`` > 0 additionally drops member->rep edges whose
    MinHash-ESTIMATED Jaccard (fraction of equal signature components —
    the standard unbiased estimator, std ≈ sqrt(j(1-j)/num_hashes)) is
    below the threshold. The estimate compares each member to its
    bucket representative only, keeping verification linear; it is an
    estimator, not the exact Jaccard of the pair route — at
    ``num_hashes=16`` expect ±0.12 resolution, so thresholds here are
    coarse knobs, and ``verify_threshold=1.0`` means "all components
    equal" (identical shingle sets collide deterministically; distinct
    sets pass only under a 2^-64-scale md5 coincidence). The equality
    sum is unrolled over signature positions into plain codegen
    comparisons — no interpreted higher-order function per element.

    Semantics vs the pair route: bucket-transitivity is COARSER than
    verified-pair-transitivity (two docs can share a bucket at Jaccard
    below threshold; banding probability controls that: collision
    p = 1-(1-j^r)^bands, r = num_hashes // bands). For dedup —
    keep-one-per-cluster — this is the accepted trade at scale;
    callers needing exact pair semantics use the pair route.
    """
    shingled = persist(
        _shingled_with_signatures(df, text_col, key_col, k, max_tokens, num_hashes)
    )
    banded = band_keys_from_sig(shingled, num_hashes, bands)
    reps = (
        banded.groupBy("band", "band_hash")
        .agg(F.min("k").alias("rep"), F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= 2)
        .drop("_w")
    )
    edges = (
        banded.join(reps, ["band", "band_hash"])
        .filter(F.col("k") != F.col("rep"))
        .select(F.col("rep").alias("key_a"), F.col("k").alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    if verify_threshold > 0:
        sig_only = shingled.select("k", "sig")
        with_sigs = edges.join(
            sig_only.select(
                F.col("k").alias("key_a"), F.col("sig").alias("_sig_a")
            ),
            "key_a",
        ).join(
            sig_only.select(
                F.col("k").alias("key_b"), F.col("sig").alias("_sig_b")
            ),
            "key_b",
        )
        eq_terms = [
            F.when(
                F.element_at("_sig_a", i + 1) == F.element_at("_sig_b", i + 1),
                1,
            ).otherwise(0)
            for i in range(num_hashes)
        ]
        est = sum(eq_terms[1:], eq_terms[0]) / F.lit(float(num_hashes))
        edges = with_sigs.filter(est >= verify_threshold).select(
            "key_a", "key_b"
        )
    try:
        # dup_clusters checkpoints its pair list before anything else,
        # so the shingle cache can be released as soon as it returns
        clusters = dup_clusters(edges, key_a="key_a", key_b="key_b")
    finally:
        release(shingled)
    return clusters


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked by shared shingle)
# ---------------------------------------------------------------------------

def ngram_prefix_candidates(
    sh: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact prefix-filtered candidate pairs (AllPairs/PPJoin blocking).

    Under any global total order of shingles, J(A,B) >= t implies
    |A∩B| >= t*|A|, so A and B must share an element inside each set's
    *prefix* of length |S| - ceil(t*|S|) + 1 (if all common elements sat in
    the suffix of length ceil(t*|S|)-1 < t*|S| <= |A∩B|, contradiction).
    Ordering by ascending global document frequency puts boilerplate
    shingles (df ~ corpus size) in the suffixes — they never become
    blocking keys, so the candidate join cannot explode on
    duplicated-boilerplate corpora while recall stays exact.

    ``sh`` is (k, sh: array<string> of distinct shingles). Returns
    (key_a, key_b) candidate pairs — a superset of all pairs with
    Jaccard >= threshold.
    """
    ex = sh.select("k", F.explode("sh").alias("g"))
    gdf = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    pref = (
        ex.join(gdf, "g")
        .groupBy("k")
        .agg(F.sort_array(F.collect_list(F.struct("df", "g"))).alias("sg"))
        .withColumn("n", F.size("sg"))
        .withColumn(
            # prefix length n - ceil(t*n) + 1; the tiny epsilon inside the
            # ceil guards double rounding (t*n landing just ABOVE the exact
            # integer product would shorten the prefix and silently lose
            # recall in a filter documented as exact — a too-long prefix
            # only yields a candidate superset, never lost pairs)
            "L",
            (
                F.col("n")
                - F.ceil(F.lit(float(threshold)) * F.col("n") - F.lit(1e-9))
                + 1
            ).cast("int"),
        )
        .select("k", F.explode(F.slice(F.col("sg"), F.lit(1), F.col("L"))).alias("pg"))
        .select("k", F.col("pg.g").alias("g"))
    )
    return (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.k") < F.col("b.k")),
        )
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_tokens: int = 0,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact Jaccard >= threshold over distinct k-word shingles.

    ``max_tokens`` defaults to 0 (UNBOUNDED) so the headline contract —
    exact full-document Jaccard — holds by default (r3 ADVICE: a silent
    2000 default changed pair membership for long documents). Callers at
    corpus scale should opt into a cap (the entry/prepare paths pass 500
    / 2000 explicitly) — unbounded shingling of 50KB documents is the
    scale hazard, bounded shingling is the semantic one; the choice is
    now explicit.

    Candidate generation (the scale lever):
      * ``prefix_filter=True`` (default): rarest-first prefix blocking
        (see :func:`ngram_prefix_candidates`) — exact, and bounded on
        boilerplate-heavy corpora where plain shared-shingle blocking
        degenerates toward all-pairs.
      * ``prefix_filter=False``: plain shared-shingle equi-join (kept for
        A/B; every pair sharing >=1 shingle is a candidate).

    ``max_tokens`` > 0 bounds shingling to the first N tokens (standard
    near-dup practice for 50KB+ documents). Verification is always exact
    Jaccard over the full (bounded) distinct-shingle sets.
    """
    sh = df.select(
        F.col(key_col).alias("k"),
        word_shingles(F.col(text_col), k, max_tokens=max_tokens).alias("sh"),
    )
    if prefix_filter:
        cand = ngram_prefix_candidates(sh, threshold)
        pairs = cand.join(
            sh.withColumnRenamed("k", "key_a").withColumnRenamed("sh", "sh_a"),
            "key_a",
        ).join(
            sh.withColumnRenamed("k", "key_b").withColumnRenamed("sh", "sh_b"),
            "key_b",
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (
            pairs.withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= threshold)
            .select("key_a", "key_b", "jaccard")
        )
    sizes = sh.select("k", F.size("sh").alias("n"))
    ex = sh.select("k", F.explode("sh").alias("g"))
    common = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.k") < F.col("b.k")))
        .groupBy(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        common.join(sizes.withColumnRenamed("k", "key_a").withColumnRenamed("n", "na"), "key_a")
        .join(sizes.withColumnRenamed("k", "key_b").withColumnRenamed("n", "nb"), "key_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


def winnow_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 8,
    w: int = 8,
    max_chars: int = 1024,
    min_shared: int = 2,
    max_df: int = 0,
) -> DataFrame:
    """Substring-level near-duplicate pairs via shared winnowing
    fingerprints (the cross-document form of MOSS: two documents that
    share any substring of length >= k+w-1 share at least one
    fingerprint — see textstats.with_winnow_fingerprints). Returns
    (key_a, key_b, shared_fp) with key_a < key_b and shared_fp >=
    ``min_shared`` distinct shared fingerprints.

    This catches *partial-copy* duplication (a paragraph lifted into an
    otherwise different page) that whole-document signatures (md5,
    SimHash, MinHash over full shingle sets) dilute away.

    Scale shape: a blocked equi-join on the fingerprint value — the same
    shape as MinHash-LSH band joins. ``max_df`` > 0 drops fingerprints
    that appear in more than that many documents before the join
    (boilerplate substrings — documented recall tradeoff, the standard
    hot-key guard for 10^12-row corpora; off by default).
    """
    from jarvis_ocr_service_spark.functions.textstats import (
        with_winnow_fingerprints,
    )

    fp = with_winnow_fingerprints(
        df.select(key_col, text_col), text_col, k=k, w=w, max_chars=max_chars
    )
    ex = fp.select(F.col(key_col).alias("k"), F.explode("winnow_fp").alias("fp"))
    if max_df:
        freq = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        ex = ex.join(freq.filter(F.col("_df") <= max_df).drop("_df"), "fp")
    return (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.k") < F.col("b.k")),
        )
        .groupBy(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over the pair graph)
# ---------------------------------------------------------------------------

def dup_clusters(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over a (near-)duplicate pair set: every key
    that appears in a pair is labeled with the *minimum* key reachable
    through the pair graph — the cluster representative. Returns
    (key, cluster).

    This replaces greedy drop-the-larger-key collapse, which is only exact
    for pair-shaped clusters: for a chain A-B, B-C (A~B and B~C near-dup
    but A,C not directly paired) the whole chain must collapse to A.

    Scale shape: the pair table is the *output* of blocked near-dup — tiny
    relative to the corpus. It is checkpointed once (the upstream plan runs
    once and no later round carries it), then iterative min-label
    propagation: each round is one join (edges x labels) + a min-aggregate
    into a fresh local checkpoint, so every round's plan has constant size,
    and rounds needed = graph diameter (near-dup clusters are shallow).
    Only the final round's checkpoint outlives the call, owned by the
    caller's ``cache_scope``. Hard error if the ``max_iters`` safety cap
    trips — never a silently-wrong labeling.

    Reference parity note: the reference service has no dedup at all; this
    is part of the training-data layer (SURVEY §2 'beyond the reference').
    """
    e = local_checkpoint(
        pairs.select(F.col(key_a).alias("src"), F.col(key_b).alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Self-loops make one join+min compute min(own label, neighbor labels),
    # so `labels` appears exactly ONCE per round — without them the
    # least(label, neighbor_min) form references labels twice per round.
    edges = local_checkpoint(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
    )
    labels = local_checkpoint(nodes.select("node", F.col("node").alias("label")))
    release(e)
    converged = False
    for _ in range(max_iters):
        new_labels = local_checkpoint(
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("label"))
            .withColumnRenamed("src", "node")
        )
        done = (
            new_labels.join(
                labels.select("node", F.col("label").alias("old")), "node"
            )
            .filter(F.col("label") != F.col("old"))
            .isEmpty()
        )
        release(labels)
        labels = new_labels
        if done:
            converged = True
            break
    release(edges)
    if not converged:
        release(labels)
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iters} rounds — "
            "pathological pair graph (diameter > cap); raise max_iters"
        )
    return labels.select(F.col("node").alias("key"), F.col("label").alias("cluster"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64_one(text: str) -> int:
    """Scalar reference SimHash (the definition the vectorized UDF and the
    DuckDB oracle must match byte-for-byte). Token hash: first 8 bytes of
    md5, bits unpacked MSB-first per byte; signature bit i is the sign of
    the bit-majority over all tokens (with multiplicity)."""
    import hashlib

    import numpy as np

    if not text:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for tok in text.split():
        raw = hashlib.md5(tok.encode()).digest()[:8]
        acc += (
            2 * np.unpackbits(np.frombuffer(raw, dtype=np.uint8)).astype(np.int64)
            - 1
        )
    sig = 0
    for i in range(64):
        if acc[i] > 0:
            sig |= 1 << i
    # map to signed int64 for Spark LongType
    return sig - (1 << 64) if sig >= (1 << 63) else sig


@F.pandas_udf(T.LongType())
def simhash64(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-bit SimHash over whitespace tokens — vectorized per Arrow batch.

    Identical output to :func:`simhash64_one` (pinned by tests), but the
    per-token Python loop is replaced with batch numpy: factorize the
    batch's tokens, md5 each *distinct* token once (Zipf: web corpora
    repeat tokens heavily; a cross-batch cache amortizes further), then
    accumulate the ±1 bit matrix with segment-sums (``np.add.reduceat``)
    in bounded-memory chunks.
    """
    import hashlib

    import numpy as np

    cache: dict = {}  # token -> ±1 bit row; persists across batches
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))

    def batch(s: pd.Series) -> pd.Series:
        tok_lists = [t.split() for t in s.fillna("")]
        n = len(tok_lists)
        sig = np.zeros(n, dtype=np.int64)
        counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
        ne_idx = np.nonzero(counts)[0]
        if len(ne_idx) == 0:
            return pd.Series(sig, index=s.index)
        flat = [tok for tl in tok_lists for tok in tl]
        codes, uniques = pd.factorize(pd.Index(flat), sort=False)
        mat = np.empty((len(uniques), 64), dtype=np.int64)
        for i, tok in enumerate(uniques):
            v = cache.get(tok)
            if v is None:
                raw = hashlib.md5(tok.encode()).digest()[:8]
                v = (
                    2
                    * np.unpackbits(np.frombuffer(raw, dtype=np.uint8)).astype(
                        np.int64
                    )
                    - 1
                )
                if len(cache) < 2_000_000:  # bound executor memory
                    cache[tok] = v
            mat[i] = v
        # segment boundaries of each non-empty doc in the flat token stream
        ne_counts = counts[ne_idx]
        ne_cum = np.concatenate(([0], np.cumsum(ne_counts)))
        m = len(ne_idx)
        CHUNK_TOKENS = 1 << 20  # bounds the (tokens, 64) expansion to ~512MB
        s0 = 0
        while s0 < m:
            s1 = int(np.searchsorted(ne_cum, ne_cum[s0] + CHUNK_TOKENS, "right")) - 1
            s1 = min(max(s1, s0 + 1), m)  # always advance; allow 1 huge doc
            exp = mat[codes[ne_cum[s0] : ne_cum[s1]]]
            offs = ne_cum[s0:s1] - ne_cum[s0]
            acc = np.add.reduceat(exp, offs, axis=0)
            bits = acc > 0
            sig_u = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
            sig[ne_idx[s0:s1]] = sig_u.view(np.int64)
            s0 = s1
        return pd.Series(sig, index=s.index)

    for s in texts:
        yield batch(s)


def hamming_band_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    bands: int = 0,
    max_bucket: int = 0,
    key_col: str = "k",
    sig_col: str = "sig",
) -> DataFrame:
    """Pairs with Hamming(64-bit sig) <= max_hamming over a (key, sig)
    frame — the pigeonhole-banded self-join shared by SimHash text
    near-dup and pHash image near-dup. Complete recall when
    ``max_bucket`` is off: the signature splits into ``bands`` contiguous
    slices (default max_hamming+1, the smallest complete layout); any
    pair within the radius must agree exactly on >= 1 band. Join per
    band, verify true distance with JVM ``bit_count``. ``max_bucket``
    drops hot (band, band_key) buckets before the self-join (the
    standard guard — see minhash_lsh_pairs' docstring for the measured
    blow-up it prevents and the recall trade)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63]")
    bands = bands or (max_hamming + 1)
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at max_hamming="
            f"{max_hamming}; need bands >= max_hamming + 1"
        )
    bands = min(bands, 64)
    base, rem = divmod(64, bands)
    widths = [base + 1] * rem + [base] * (bands - rem)
    starts = [sum(widths[:b]) for b in range(bands)]
    sigs = sigs.select(F.col(key_col).alias("k"), F.col(sig_col).alias("sig"))
    banded = sigs.select(
        "k",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), starts[b]).bitwiseAND(
                        F.lit((1 << widths[b]) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    if max_bucket:
        bucket_widths = banded.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_w")
        )
        banded = banded.join(
            bucket_widths.filter(F.col("_w") <= max_bucket).drop("_w"),
            ["band", "band_key"],
        )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("key_a", "key_b", "hamming")
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 0,
    max_bucket: int = 0,
) -> DataFrame:
    """Near-dup pairs with Hamming(sig) <= max_hamming — complete recall
    (when ``max_bucket`` is off).

    Pigeonhole blocking: the 64-bit signature is split into ``bands``
    contiguous slices; any pair within Hamming <= bands-1 must agree on at
    least one band exactly, so ``bands`` defaults to ``max_hamming + 1``
    (the smallest complete layout — 4 bands can only guarantee Hamming<=3).
    Join per band, then verify the true Hamming distance with bit_count
    (JVM-side).

    ``max_bucket`` > 0 drops any (band, band_key) bucket wider than the
    cap BEFORE the self-join — the same hot-key guard as
    minhash_lsh_pairs / winnow_near_pairs / embedding_near_dup_pairs. On
    templated or short-text corpora the signature distribution has heavy
    atoms: with 4 bands of 16 bits, f·N documents sharing one hot band
    value make the candidate set (f·N)² — the exact blow-up class the
    minhash guard was added for after a measured 44-65 GB shuffle-scratch
    DNF. Recall trade (documented, matching minhash): a dropped bucket
    only loses pairs whose EVERY agreeing band is hot — pairs at
    Hamming << bands typically agree on several bands and still collide
    on a cold one. Off by default so the complete-recall contract holds;
    corpus-scale callers should enable it.
    """
    sigs = df.select(
        F.col(key_col).alias("k"), simhash64(F.col(text_col)).alias("sig")
    )
    return hamming_band_pairs(
        sigs, max_hamming=max_hamming, bands=bands, max_bucket=max_bucket
    )


# ---------------------------------------------------------------------------
# Exact duplicated-passage removal (n-gram span dedup)
# ---------------------------------------------------------------------------

def spans_tokens_py(text) -> list:
    """THE pinned token class for span dedup: case-preserving
    whitespace split (drop empties) — literal duplication detection,
    like dedup_lines' literal lines (and unlike the lowercased
    contamination grams: a recased copy is a different passage here)."""
    return (text or "").split()


def dedup_ngram_spans(
    df: DataFrame,
    k: int = 13,
    min_count: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level exact duplicated-passage removal: every k-token
    window whose literal text occurs >= ``min_count`` times in the
    corpus is removed from EVERY document (all covered token positions
    cut; survivors rejoin with single spaces). The spirit of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499 — suffix-array substring dedup at ~50
    BPE tokens), at the engine's token granularity and with the
    every-occurrence rule this repo's dedup_lines already pins
    (removal is reported, not silent: ``n_removed`` counts cut
    tokens). Returns (key, clean_text, n_tokens, n_removed).

    Pinned semantics: tokens = :func:`spans_tokens_py` (case-
    preserving whitespace split — output text is therefore whitespace-
    NORMALIZED, the packing/tokenizer-input form); windows are every
    position (exact, not sampled — ``winnow_near_pairs`` is the
    sampled alternative when the full window stream is too dear);
    docs with < k tokens emit no windows and survive whole.

    Plan: one Arrow map stage emits (key, pos, gram-hash) — 8-byte
    blake2b-64 hashes (contamination's pinned gram_hash64), never the
    gram strings, so the ONE count shuffle carries ~16 B/token
    (that is the honest cost of EXACT span dedup without a
    distributed suffix array; the Zipf head is absorbed map-side by
    partial aggregation). Duplicated hashes join back AQE-unhinted
    (collision-bounded, usually broadcast), covered positions
    aggregate per doc (bounded by doc length), and one final Arrow
    stage rebuilds the text. Hash equality stands in for literal
    equality (the oracle compares literal grams): a blake2b-64
    collision (~2^-64 per distinct-gram pair) could over-remove — the
    bucket_dedup caveat class, documented."""
    from jarvis_ocr_service_spark.functions.contamination import gram_hash64

    if k < 1 or min_count < 1:
        raise ValueError("k >= 1 and min_count >= 1 required")

    def signed64(h: int) -> int:
        return h - (1 << 64) if h >= (1 << 63) else h

    src = df.select(F.col(key_col).alias("key"), F.col(text_col).alias("_t"))

    def gram_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, poss, hs = [], [], []
            for key, text in zip(pdf["key"], pdf["_t"]):
                toks = spans_tokens_py(text)
                for i in range(len(toks) - k + 1):
                    keys.append(key)
                    poss.append(i)
                    hs.append(signed64(gram_hash64(" ".join(toks[i : i + k]))))
            yield pd.DataFrame(
                {
                    "key": pd.array(keys, dtype="Int64"),
                    "pos": pd.array(poss, dtype="Int64"),
                    "h": pd.array(hs, dtype="Int64"),
                }
            )

    grams = src.mapInPandas(gram_rows, schema="key long, pos long, h long")
    grams = persist(grams)  # count + position join share one computation
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= int(min_count))
        .select("h")
    )
    dup_pos = (
        grams.join(dup, "h")
        .groupBy("key")
        .agg(F.collect_list("pos").alias("_dups"))
    )
    joined = src.join(dup_pos, "key", "left")

    def rebuild(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, cleans, ntoks, nrem = [], [], [], []
            for key, text, dups in zip(pdf["key"], pdf["_t"], pdf["_dups"]):
                toks = spans_tokens_py(text)
                covered = set()
                if dups is not None and len(dups):
                    for p in dups:
                        covered.update(range(int(p), int(p) + k))
                keys.append(key)
                cleans.append(
                    " ".join(t for i, t in enumerate(toks) if i not in covered)
                )
                ntoks.append(len(toks))
                nrem.append(len(covered))
            yield pd.DataFrame(
                {
                    "key": pd.array(keys, dtype="Int64"),
                    "clean_text": cleans,
                    "n_tokens": pd.array(ntoks, dtype="Int64"),
                    "n_removed": pd.array(nrem, dtype="Int64"),
                }
            )

    return joined.mapInPandas(
        rebuild,
        schema="key long, clean_text string, n_tokens long, n_removed long",
    )
