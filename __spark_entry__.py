"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-dialect equivalents over the same parquet views.

Column names are aliased identically on both sides (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

_REPO_ROOT = __import__("os").path.dirname(__import__("os").path.abspath(__file__))
if _REPO_ROOT not in __import__("sys").path:
    __import__("sys").path.insert(0, _REPO_ROOT)


def _ensure_dist(spark: SparkSession) -> None:
    """Ship the engine package to executors regardless of the driver's
    cwd/PYTHONPATH: build a zip once and addPyFile it (idempotent).

    The zip filename is keyed on a content hash of the package sources so
    an edited engine never runs stale on executors (a fixed /tmp path would
    keep serving the first build of the session's lifetime)."""
    import hashlib
    import os
    import zipfile

    if getattr(_ensure_dist, "_done", None) is spark:
        return
    pkg_dir = os.path.join(_REPO_ROOT, "jarvis_ocr_service_spark")
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                sources.append((os.path.relpath(full, _REPO_ROOT), full))
    sources.sort()
    h = hashlib.sha256()
    for rel, full in sources:
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    zpath = f"/tmp/jarvis_ocr_service_spark_dist_{h.hexdigest()[:12]}.zip"
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, full in sources:
                z.write(full, rel)
        os.replace(tmp, zpath)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added in this context
    _ensure_dist._done = spark


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_dist(spark)
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


# ---------------------------------------------------------------------------
# DuckDB-dialect normalize_text (same semantics as
# jarvis_ocr_service_spark.operators.textops.normalize_text; DuckDB string
# literals don't eat backslashes, so regex escapes are written directly).
# ---------------------------------------------------------------------------

def _duck_normalize(expr: str) -> str:
    return (
        "regexp_replace(array_to_string(list_transform(string_split("
        "regexp_replace(regexp_replace(replace(coalesce({e}, ''), chr(0), ''),"
        " '\\r\\n|\\r', chr(10), 'g'), '\\n{{3,}}', chr(10)||chr(10), 'g'),"
        " chr(10)), l -> regexp_replace(trim(l), ' +', ' ', 'g')), chr(10)),"
        " '^[\\n ]+|[\\n ]+$', '', 'g')"
    ).format(e=expr)


def _spark_normalize(expr: str) -> str:
    from jarvis_ocr_service_spark.operators.textops import normalize_text_sql

    return normalize_text_sql(expr)


# ---------------------------------------------------------------------------
# entry — flagship: pages built from documents -> fused tier cascade
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: build Common-Crawl-style
    pages from the documents table (1/3 boilerplate-heavy), run the fused
    extraction cascade, return per-url results."""
    return _q_flagship(spark, SF0001)


# ---------------------------------------------------------------------------
# query implementations (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline
    from jarvis_ocr_service_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    res = run_pipeline(pages)
    return res.select(
        F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("text").alias("extracted_text"),
        F.col("tier"),
        F.col("is_valid"),
        F.col("truncated"),
        F.col("text_len"),
    )


def _q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tbl(spark, sf_dir, "documents")
        .selectExpr("doc_id", _spark_normalize("text") + " as norm_text")
    )


def _q_text_len_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tbl(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("len_bytes")
    )


def _q_min_valid_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.operators.validate import min_valid_chars_col

    return _tbl(spark, sf_dir, "documents").select(
        "doc_id", min_valid_chars_col(F.col("text")).alias("passes_gate")
    )


def _q_reason_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tbl(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 200).alias("reason")
    )


def _q_confidence_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tbl(spark, sf_dir, "events").select(
        "event_id",
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.col("value") / 100.0)).alias(
            "confidence"
        ),
    )


def _q_confidence_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: tesseract-style confidence normalization — conf/100 with the
    -1 no-confidence sentinel mapped to 0.0 (tesseract_provider.py:59).
    Sentinel rows synthesized deterministically (every 7th event)."""
    ev = _tbl(spark, sf_dir, "events")
    raw = F.when(F.col("event_id") % 7 == 0, F.lit(-1.0)).otherwise(F.col("value"))
    return ev.select(
        "event_id",
        F.when(raw == -1.0, F.lit(0.0)).otherwise(raw / 100.0).alias("norm_conf"),
    )


def _q_status_any_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    return (
        docs.withColumn("job_id", F.floor(F.col("doc_id") / 8))
        .withColumn("is_valid", F.col("n_chars") >= 100)
        .groupBy("job_id")
        .agg(
            F.max("is_valid").alias("any_valid"),
            F.sum(F.col("is_valid").cast("long")).alias("valid_count"),
            F.count(F.lit(1)).alias("n_images"),
        )
        .withColumn(
            "status",
            F.when(F.col("any_valid"), F.lit("success")).otherwise(F.lit("failed")),
        )
    )


def _q_valid_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tbl(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum((F.col("n_chars") >= 100).cast("long")).alias("valid_count"),
            F.count(F.lit(1)).alias("total"),
        )
    )


def _q_batch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tbl(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_images"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _q_sort_by_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        _tbl(spark, sf_dir, "documents")
        .select("lang", "doc_id", F.row_number().over(w).cast("long").alias("idx"))
        .filter(F.col("idx") <= 3)
    )


def _q_retry_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "error", "ocr_engine_error")
        .when(F.col("event_type") == "signup", "bad_request")
        .when(F.col("event_type") == "click", "redis_error")
        .when(F.col("event_type") == "view", "unsupported_media")
        .otherwise("internal_error")
    )
    attempt = (F.col("event_id") % 4 + 1).cast("int")
    retryable = code.isin("ocr_engine_error", "file_read_error", "redis_error",
                          "internal_error")
    return ev.select(
        "event_id",
        code.alias("error_code"),
        attempt.alias("attempt"),
        ((attempt < 3) & retryable).alias("should_retry"),
    )


def _q_content_type_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    ext = F.element_at(
        F.array(F.lit("png"), F.lit("jpg"), F.lit("jpeg"), F.lit("webp"),
                F.lit("tiff"), F.lit("xyz")),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    mime = F.coalesce(
        F.element_at(
            F.create_map(
                F.lit("png"), F.lit("image/png"),
                F.lit("jpg"), F.lit("image/jpeg"),
                F.lit("jpeg"), F.lit("image/jpeg"),
                F.lit("webp"), F.lit("image/webp"),
                F.lit("tiff"), F.lit("image/tiff"),
            ),
            ext,
        ),
        F.lit("image/png"),  # reference default (image_resolver.py:96-108)
    )
    return docs.select("doc_id", ext.alias("ext"), mime.alias("content_type"))


def _q_host_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    url = F.format_string(
        "https://site%s.example.org/docs/%s", F.col("doc_id") % 50, F.col("doc_id")
    )
    return (
        docs.select(F.parse_url(url, F.lit("HOST")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_refs_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _tbl(spark, sf_dir, "documents")
    refs = F.slice(F.split(F.col("text"), " "), 1, (F.col("doc_id") % 10 + 1).cast("int"))
    return docs.select(
        "doc_id",
        F.size(refs).cast("long").alias("n_refs"),
        F.size(refs).between(1, 8).alias("count_ok"),
        (F.size(F.array_distinct(refs)) == F.size(refs)).alias("unique_ok"),
    )


def _q_tier_first_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 analog: argmin over ordered tier candidates, SQL-expressible."""
    docs = _tbl(spark, sf_dir, "documents")
    tiers = F.array(F.lit("tesseract"), F.lit("easyocr"), F.lit("paddleocr"))
    # deterministic validity: tier k valid iff (doc_id + 7k) % 3 == 0
    cand = docs.select(
        "doc_id",
        F.posexplode(tiers).alias("rank", "tier"),
    ).withColumn("valid", (F.col("doc_id") + 7 * F.col("rank")) % 3 == 0)
    first = (
        cand.filter("valid")
        .groupBy("doc_id")
        .agg(F.min_by("tier", "rank").alias("first_valid_tier"))
    )
    return docs.select("doc_id").join(first, "doc_id", "left").select(
        "doc_id", F.coalesce("first_valid_tier", F.lit("none")).alias("first_valid_tier")
    )


def _q_extract_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-heavy pages only: the cascade must escalate to tier-2 and
    return exactly the article text (nav/footer stripped)."""
    return _q_flagship(spark, sf_dir).filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "extracted_text", "tier"
    )


# ---------------------------------------------------------------------------
# Training-data ops (functions/): dedup, similarity, text analysis
# ---------------------------------------------------------------------------

def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.dedup import dedup_exact

    return dedup_exact(_tbl(spark, sf_dir, "documents"))


def _q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.dedup import minhash_signature

    sig = minhash_signature(F.col("text"), num_hashes=4, k=3)
    return _tbl(spark, sf_dir, "documents").select(
        "doc_id",
        sig.getItem(0).alias("mh0"),
        sig.getItem(1).alias("mh1"),
        sig.getItem(2).alias("mh2"),
        sig.getItem(3).alias("mh3"),
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over a corpus with planted near-dups: every doc
    gets a twin truncated to its first 3/4 tokens (Jaccard ~0.7), so the
    oracle-checked pair set is non-empty and stable (a fixture of fully
    distinct docs would pass vacuously with 0 rows on both sides)."""
    from jarvis_ocr_service_spark.functions.dedup import ngram_jaccard_pairs

    docs = (
        _tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id", "text")
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.lit(1), F.floor(F.size(toks) * 3 / 4)).cast("int")
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(toks, F.lit(1), keep), " ").alias("text"),
    )
    corpus = docs.unionByName(twins)
    return ngram_jaccard_pairs(corpus, k=5, threshold=0.4, max_tokens=500)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components duplicate clustering over a *chained* near-dup
    graph: doc -> 3/4-prefix twin -> (3/4)^2-prefix twin. Adjacent links
    share ~0.75 Jaccard (edges at threshold 0.6); doc<->grand-twin shares
    ~0.56 (no direct edge) — so the full chain collapsing to the doc
    exercises real transitivity, not pair-dropping."""
    from jarvis_ocr_service_spark.functions.dedup import (
        dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = (
        _tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )

    def _twin(src: DataFrame, shift: int) -> DataFrame:
        toks = F.split(F.trim(F.col("text")), r"\s+")
        keep = F.greatest(F.lit(1), F.floor(F.size(toks) * 3 / 4)).cast("int")
        return src.select(
            (F.col("doc_id") + shift).alias("doc_id"),
            F.array_join(F.slice(toks, F.lit(1), keep), " ").alias("text"),
        )

    t1 = _twin(docs, 100000)
    t2 = _twin(t1, 100000)  # => doc_id + 200000, (3/4)^2 of the tokens
    corpus = docs.unionByName(t1).unionByName(t2)
    pairs = ngram_jaccard_pairs(corpus, k=4, threshold=0.6, max_tokens=500)
    return dup_clusters(pairs)


def _q_bucket_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-edge MinHash dedup (dedup.minhash_bucket_clusters): member ->
    bucket-min-representative edges + signature-estimator trim + connected
    components — the clique-size-proof route (see its docstring for why
    the pair route is quadratic on templated corpora). Exact twins
    (+100000) guarantee identical signatures, so the result is
    non-vacuous by construction; natural near-dups that band-collide
    join the clusters too. The oracle mirrors the ENTIRE algorithm —
    md5 double-hashing signatures (DuckDB md5_number_upper/lower are
    exactly the UDF's little-endian digest halves), band grouping, rep
    selection, estimator filter, recursive-CTE components — the only
    divergence class is an xxhash64 band-key collision between distinct
    signature slices (~2^-64, deterministic)."""
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_bucket_clusters,
    )

    docs = (
        _tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id", "text")
    )
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
    )
    clusters = minhash_bucket_clusters(
        docs.unionByName(twins),
        key_col="doc_id",
        num_hashes=16,
        bands=4,
        k=3,
        verify_threshold=0.7,
        max_tokens=500,
    )
    return clusters.select(
        F.col("key").cast("long").alias("key"),
        F.col("cluster").cast("long").alias("cluster"),
    )


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return with_text_stats(docs, stats=("n_tokens", "n_subtokens")).select(
        "doc_id", "n_tokens", "n_subtokens"
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return with_text_stats(docs, stats=("lang_guess",)).select(
        "doc_id", "lang_guess"
    )


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return with_text_stats(docs, stats=("quality",)).select("doc_id", "quality")


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.textstats import fingerprint_md5_col

    return _tbl(spark, sf_dir, "documents").select(
        "doc_id", fingerprint_md5_col(F.col("text")).alias("fingerprint")
    )


def _q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.simsearch import quantized_dot_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    return quantized_dot_topk(emb, qvec, k=10)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k in its deterministic quantized form (integer dot/norms,
    pinned IEEE double expression) — oracle-checked; the float variant
    stays in the library, unit-tested against brute force."""
    from jarvis_ocr_service_spark.functions.simsearch import cosine_topk_quantized

    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    return cosine_topk_quantized(emb, qvec, k=10)


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN, deterministic quantized form
    (integer sign bits + quantized cosine) — oracle-checked."""
    from jarvis_ocr_service_spark.functions.simsearch import (
        lsh_bucketed_topk_quantized,
    )

    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    return lsh_bucketed_topk_quantized(emb, qvec, k=10, n_planes=4, probe_hamming=2)


def _q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN graph (simsearch.knn_graph): top-3 banded-LSH
    candidates per vector by deterministic quantized cosine — the
    graph-based-curation substrate. 24 planes / 6 bands of 4 bits keeps
    candidate lists wide on the 500-vector fixture; threshold=-1 ranks
    ALL candidates (the graph wants neighbors, not a similarity gate).
    Oracle replicates banding, scoring, symmetrization, and the
    (cos desc, neighbor) total order exactly."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.simsearch import knn_graph

    emb = _tbl(spark, sf_dir, "embeddings")
    return knn_graph(
        emb, 3, threshold=-1.0, n_planes=24, bands=6, dim=_EMB_DIM
    )


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, banded-LSH blocked (48 quantized
    sign bits, 6 bands of 8 — band width sized to the ~1000-vector corpus
    so random band collisions stay rare). Self-test corpus: each vector
    unioned with an exact twin (vec_id+100000) — every twin pair must be
    found (identical quantized vectors agree on every band). Oracle
    replicates the banding exactly (all bits are integer-determined)."""
    from jarvis_ocr_service_spark.functions.simsearch import embedding_near_dup_pairs

    emb = _tbl(spark, sf_dir, "embeddings")
    shifted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    # params stay explicit here because the DuckDB oracle is a static SQL
    # string that must bake in the same plane set at any sf; the auto-sizing
    # path (auto_lsh_params, no hand-tuning) is pinned at two corpus sizes
    # by tests/test_simsearch.py. dim=64 skips the 1-row probe job.
    return embedding_near_dup_pairs(
        emb.unionByName(shifted), threshold=0.999, n_planes=48, bands=6,
        dim=_EMB_DIM,
    )


def _q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized integer k-means (functions/clustering.kmeans_assign):
    k=4 centroids, 3 (assign, update) rounds, deterministic smallest-id
    init, exact int64 distances. Oracle = chained MATERIALIZED CTEs
    (one assignment + one centroid-update CTE per round — the pagerank
    pattern); every number is integer-determined so the match is exact,
    including the tie-break (ORDER BY dist2, cluster == numpy's
    first-minimum argmin)."""
    from jarvis_ocr_service_spark.functions.clustering import kmeans_assign

    emb = _tbl(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=4, iters=3, scale=_EMB_SCALE)


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means blocking + within-cluster
    quantized-cosine pruning, keep-lowest-id. Self-test corpus: every
    vector unioned with an exact twin at vec_id+100000 — each twin has
    cosine exactly 1.0 with its original, lands in the same cluster
    (identical quantized coordinates), and must be dropped; the 500
    originals all survive (max genuine pairwise cosine in the fixture
    is ~0.51 < 0.99). Non-vacuous: output strictly smaller than
    input."""
    from jarvis_ocr_service_spark.functions.clustering import semdedup

    emb = _tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return semdedup(
        emb.unionByName(twins), k=4, iters=2, threshold=0.99,
        scale=_EMB_SCALE,
    )


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (clustering.ivf_topk_quantized): k-means inverted lists (k=4,
    2 fit rounds), probe the 2 centroid-nearest lists, exact quantized
    cosine within them. Oracle = the kmeans chained-CTE mirror + probe
    selection + the cosine_topk scoring SQL — the whole approximate
    pipeline is deterministic, so Spark and DuckDB agree exactly
    (including which neighbors the approximation misses)."""
    from jarvis_ocr_service_spark.functions.clustering import (
        ivf_topk_quantized,
    )

    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    return ivf_topk_quantized(
        emb, qvec, k=10, n_clusters=4, iters=2, nprobe=2,
        scale=_EMB_SCALE,
    )


def _q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage removal (dedup.dedup_ngram_spans, the
    Lee-et-al-2022 rule at token granularity): every 8-token window
    occurring >= 2 times corpus-wide is cut from every document. The
    synthetic corpus is template-heavy, so the rule bites hard (most
    docs lose their boilerplate spans); removal is reported via
    n_removed. Oracle compares LITERAL grams where Spark compares
    blake2b-64 hashes — equivalence up to a documented ~2^-64
    collision class (the bucket_dedup caveat)."""
    from jarvis_ocr_service_spark.functions.dedup import dedup_ngram_spans

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_ngram_spans(docs, k=8, min_count=2)


def _q_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection (sampling.select_to_budget): rank docs by
    score (n_chars here; any integer quality signal), keep the greedy
    prefix whose cumulative token count fits 10k tokens — a strict
    subset at both driver scales (sf0.01 totals ~27k tokens). Oracle = the
    naive 1-task global window the two-phase implementation avoids."""
    from jarvis_ocr_service_spark.functions.sampling import select_to_budget
    from jarvis_ocr_service_spark.functions.tokens import py_tokens_col

    docs = _tbl(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id").alias("key"),
        F.col("n_chars").cast("long").alias("score"),
        F.size(py_tokens_col(F.col("text"))).cast("long").alias("n_toks"),
    )
    return select_to_budget(
        base, 10000, size_col="n_toks", score_col="score", key_col="key"
    )


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (functions/importance.dsir_weights):
    hashed unigram+bigram buckets (salted-md5 family, B=512), integer
    floor-log2 LLR proxy of target-vs-raw bucket distributions.
    Target = documents with doc_id % 10 == 0 (a deterministic
    'high-quality' slice); raw = all documents. B=512 keeps bucket
    collisions common on the fixture so the scoring actually mixes
    gram kinds (non-vacuous)."""
    from jarvis_ocr_service_spark.functions.importance import dsir_weights

    docs = _tbl(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    return dsir_weights(docs, target, n_buckets=512)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.dedup import simhash_near_pairs

    docs = _tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_near_pairs(docs, max_hamming=10)


def _q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.functions.textstats import rolling_hash64

    return _tbl(spark, sf_dir, "documents").select(
        "doc_id", rolling_hash64(F.col("text")).alias("rhash")
    )


def _q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.multimodal import with_image_meta
    from jarvis_ocr_service_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 200)
    out = with_image_meta(pages)
    return out.filter(F.col("image_meta.format").isNotNull()).select(
        "url",
        F.col("image_meta.format").alias("fmt"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.n_bytes").alias("n_bytes"),
    )


def _wav_params(i: int):
    """Deterministic per-doc WAV parameters (pure function of doc_id)."""
    return (
        110.0 * (1 + i % 8),          # freq
        500 + (i % 7) * 250,          # n_samples
        8000 if i % 2 == 0 else 16000,  # sample rate
        0.1 + (i % 5) * 0.2,          # amplitude
    )


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV decode (stdlib wave) over deterministic synthesized audio
    payloads: header metadata + RMS per row."""
    _ensure_dist(spark)
    from pyspark.sql import types as T

    from jarvis_ocr_service_spark.functions.multimodal import (
        make_test_wav,
        with_audio_features,
    )

    import pandas as pd

    def gen(batches):
        for b in batches:
            if not len(b):
                continue
            ids = b["id"].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "html": [make_test_wav(*_wav_params(int(i))) for i in ids],
                }
            )

    wavs = spark.range(0, 50, numPartitions=4).mapInPandas(
        gen, schema="doc_id long, html binary"
    )
    out = with_audio_features(wavs)
    return out.select(
        "doc_id",
        F.col("audio_features.sample_rate").alias("sample_rate"),
        F.col("audio_features.channels").alias("channels"),
        F.col("audio_features.bits").alias("bits"),
        F.col("audio_features.n_frames").alias("n_frames"),
        F.col("audio_features.duration_s").alias("duration_s"),
        F.col("audio_features.rms").alias("rms"),
    )


def _q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints, exploded to (doc_id, fp) rows."""
    from jarvis_ocr_service_spark.functions.textstats import (
        with_winnow_fingerprints,
    )

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_winnow_fingerprints(docs, k=8, w=8, max_chars=1024)
    return out.select("doc_id", F.explode("winnow_fp").alias("fp"))


def _q_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real pixel decode (from-scratch PNG codec): dims/channels/mean
    intensity per decodable payload on the deterministic page fixture."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.multimodal import with_pixel_stats
    from jarvis_ocr_service_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 200)
    out = with_pixel_stats(pages)
    return out.filter(F.col("pixel_stats.px_width").isNotNull()).select(
        "url",
        F.col("pixel_stats.px_width").alias("px_width"),
        F.col("pixel_stats.px_height").alias("px_height"),
        F.col("pixel_stats.channels").alias("channels"),
        F.col("pixel_stats.mean_intensity").alias("mean_intensity"),
    )


_TRUNC_PAGES_N = 300  # classes 6 (oversize) + 7 (multibyte) -> 30 rows each


def _q_truncate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: UTF-8-byte-safe truncation over the oversize (class 6) and
    multibyte-boundary (class 7) page classes — the full cascade runs and
    the truncated text is pinned byte-for-byte via md5. Reference
    semantics: app/text_utils.py:43-76 (truncate never splits a UTF-8
    sequence; class 7's cut lands mid-2-byte-char and backs off to 51,199
    of MAX_TEXT_BYTES=51,200)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline
    from jarvis_ocr_service_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _TRUNC_PAGES_N).filter(
        F.col("url").rlike("/doc/[67]/")
    )
    res = run_pipeline(pages)
    return res.select(
        "url",
        F.col("truncated"),
        F.col("text_len"),
        F.col("is_valid"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    )


_PDF_PAGES_N = 300  # class 2 -> 30 PDF rows


def _q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: the PDF *parse* branch (pdf_mode='parse') over the class-2 page
    fixture — from-scratch FlateDecode + BT/ET text-object parse
    (operators/extract_pdf.py), exact extracted bytes and line-span
    conventions pinned. Reference decision: prds/queue-flow.md:510-515
    (v2 parses PDFs instead of rejecting)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline
    from jarvis_ocr_service_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, _PDF_PAGES_N).filter(
        F.col("url").rlike("/doc/2/")
    )
    res = run_pipeline(pages)  # pdf_mode defaults to PDF_MODE_PARSE
    return res.select(
        "url",
        F.col("text").alias("pdf_text"),
        F.col("tier"),
        F.col("is_valid"),
        F.col("truncated"),
        F.col("text_len"),
        F.array_join(
            F.transform(
                "spans",
                lambda s: F.format_string(
                    "%d:%d:%s", s["start"], s["end"], s["tag"]
                ),
            ),
            "|",
        ).alias("spans_str"),
    )


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring-level near-dup pairs via shared winnowing
    fingerprints (dedup.winnow_near_pairs — the MOSS corpus form):
    partial-copy detection that whole-document signatures dilute away."""
    from jarvis_ocr_service_spark.functions.dedup import winnow_near_pairs

    docs = _tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return winnow_near_pairs(docs, min_shared=12)


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized TF-IDF lexical top-k (functions/lexsearch.py): all-integer
    idf weights, query-term filter pushed below the aggregation."""
    from jarvis_ocr_service_spark.functions.lexsearch import (
        tfidf_topk_quantized,
    )

    docs = _tbl(spark, sf_dir, "documents")
    return tfidf_topk_quantized(docs, "scan window merge dup", k=10)


def _phash_fixture_png(i: int) -> bytes:
    """Deterministic per-doc image payload: 5 gradient base classes,
    i//5 pixel perturbations (planted image near-dups), every 9th row
    undecodable bytes (null-hash path)."""
    import numpy as np

    from jarvis_ocr_service_spark.operators.png_codec import (
        encode_png_pixels,
    )

    if i % 9 == 0 and i > 0:
        return b"not an image %d" % i
    c = i % 5
    y, x = np.mgrid[0:16, 0:24]
    img = ((x * 7 + y * 11 + c * 37) % 256).astype(np.uint8)
    for p in range((i // 5) % 4):
        img[p, p] = (int(img[p, p]) + 11) % 256
    return encode_png_pixels(img)


def _q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (functions/imagehash.py): integer-DCT
    pHash over the from-scratch PNG codec — all-integer (quantized
    cosine matrix), so the hash is bit-identical in any process. The
    undecodable rows exercise the null path (and the nullable-Int64
    regression: a float64-inferred column silently rounds 64-bit hashes
    at the 53-bit mantissa)."""
    _ensure_dist(spark)
    import pandas as pd

    from jarvis_ocr_service_spark.functions.imagehash import with_phash

    def gen(batches):
        for b in batches:
            if not len(b):
                continue
            ids = b["id"].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "html": [_phash_fixture_png(int(i)) for i in ids],
                }
            )

    imgs = spark.range(60).mapInPandas(gen, schema="doc_id long, html binary")
    return with_phash(imgs).select("doc_id", "phash")


def _q_cross_corpus_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest (dedup.minhash_lsh_pairs_between):
    a batch of 3/4-truncated twins vs the corpus — every twin must pair
    with its source (j ~ 0.75). bands=16/r=1 makes LSH recall 1-3e-9 at
    the 0.5 threshold, so the all-pairs exact-Jaccard oracle matches;
    verification is exact either way."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_lsh_pairs_between,
    )

    docs = _tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    twins = docs.filter(F.col("doc_id") < 40).select(
        "doc_id",
        F.array_join(
            F.slice(
                toks,
                1,
                F.greatest(
                    F.lit(1), F.floor(F.size(toks) * 3 / 4).cast("int")
                ),
            ),
            " ",
        ).alias("text"),
    )
    return minhash_lsh_pairs_between(
        twins,
        docs,
        num_hashes=16,
        bands=16,
        k=4,
        verify_threshold=0.5,
        max_tokens=100,
    )


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus composition report (functions/report):
    exact integer aggregates, one partial-agg shuffle."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.report import corpus_report

    docs = _tbl(spark, sf_dir, "documents")
    return corpus_report(docs, group_col="lang", size_col="n_chars")


def _q_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language pinned-log2 size histogram (functions/report):
    bucket boundaries computed in exact integer arithmetic both
    engines (binary string length, no floating log)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.report import size_histogram

    docs = _tbl(spark, sf_dir, "documents")
    return size_histogram(docs, group_col="lang", size_col="n_chars")


def _q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head (functions/vocab.top_tokens): exact global
    token counts, map-side partial agg, TakeOrdered top-k."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import top_tokens

    docs = _tbl(spark, sf_dir, "documents")
    return top_tokens(docs, 50)


def _q_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair counts (functions/vocab.token_pair_counts) —
    the BPE-merge statistic at word granularity; min_count bounds the
    result to the head of the pair distribution. min_count=5 BITES on
    the sf0.001 fixture (hundreds of surviving pairs) — the r5 value of
    100 returned 0 rows on both engines, a vacuous empty==empty oracle
    row (r5 verdict item 2)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import token_pair_counts

    docs = _tbl(spark, sf_dir, "documents")
    return token_pair_counts(docs, min_count=5)


def _q_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (functions/packing.assign_packs): two-phase
    parallel prefix sum (range partitions + per-partition totals +
    broadcast offsets), value-exact vs DuckDB's single global window —
    the oracle literally IS the naive form the implementation avoids."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.packing import assign_packs

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return assign_packs(
        docs, 5000, token_col="n_chars", order_col="doc_id"
    ).select("doc_id", "pack_id", "pack_offset")


def _q_pack_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assembled training packs (packing.pack_texts): the packing
    chain's final artifact — each pack's space-joined token stream at
    max_tokens=64 (smaller than many documents, so straddles are real).
    Concatenation invariant holds at the string level: every pack but
    the last is exactly 64 tokens."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.packing import pack_texts

    docs = _tbl(spark, sf_dir, "documents")
    return pack_texts(docs, 64)


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning (functions/vocab.bpe_merges): k=8 rounds of
    greedy most-frequent adjacent-pair merges at word granularity,
    deterministic (n DESC, tok_a, tok_b) tie-break, value-exact vs a
    chained-CTE DuckDB mirror (the pagerank k-round pattern). The 31-
    token synthetic vocabulary makes pairs collide heavily, so merges
    chain into multi-token symbols within the 8 rounds."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import bpe_merges

    docs = _tbl(spark, sf_dir, "documents").select("text")
    return bpe_merges(docs, 8)


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer apply (functions/vocab.bpe_encode): learn 6 merges on
    the corpus, then encode the corpus with them — ONE pure-codegen
    projection of 6 nested literal replaces. The oracle re-derives the
    merges in the same chained CTE and reads the chain's final state as
    the encoded corpus, so BOTH stages are value-checked end-to-end."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import bpe_encode, bpe_merges

    docs = _tbl(spark, sf_dir, "documents")
    merges = [
        (r.tok_a, r.tok_b)
        for r in bpe_merges(docs.select("text"), 6)
        .orderBy("merge_round")
        .collect()
    ]
    return bpe_encode(docs, merges)


def _q_bpe_merges_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-level BPE merge learning (vocab.bpe_merges_char, r5
    verdict item 1): k=8 rounds of greedy most-frequent within-word
    symbol-pair merges weighted by word count, word-final symbols
    carrying the end-of-word marker — the real GPT-2-style tokenizer
    training step. Value-exact vs a MATERIALIZED chained-CTE DuckDB
    mirror over the same word-count table."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import bpe_merges_char

    docs = _tbl(spark, sf_dir, "documents").select("text")
    return bpe_merges_char(docs, 8)


def _q_bpe_encode_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level tokenizer apply (vocab.bpe_encode_char): learn 6
    char merges, then encode every document in ONE pure-codegen
    projection (char expansion + 6 nested literal replaces — no join,
    no shuffle, no Python). The oracle derives the encoding by an
    INDEPENDENT route: per-token join onto the trained word table's
    final state, rejoined in document order — so the no-cross-boundary
    global-replace argument is machine-checked, not just proved."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import (
        bpe_encode_char,
        bpe_merges_char,
    )

    docs = _tbl(spark, sf_dir, "documents")
    merges = [
        (r.sym_a, r.sym_b)
        for r in bpe_merges_char(docs.select("text"), 6)
        .orderBy("merge_round")
        .collect()
    ]
    return bpe_encode_char(docs, merges)


def _bpe_tables(docs: DataFrame, k: int):
    """The trained-tokenizer artifacts both bpe_encode_ids and
    bpe_roundtrip pin: ordered merges + frequency-ranked symbols. ONE
    definition — two copies could silently drift to different
    tokenizers and pin different conventions."""
    from jarvis_ocr_service_spark.functions.vocab import (
        bpe_merges_char,
        bpe_vocab,
    )

    merges = [
        (r.sym_a, r.sym_b)
        for r in bpe_merges_char(docs.select("text"), k)
        .orderBy("merge_round")
        .collect()
    ]
    symbols = [
        r.symbol
        for r in bpe_vocab(docs.select("text"), k)
        .orderBy(F.desc("n"), "symbol")
        .collect()
    ]
    return merges, symbols


def _q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round-trip (vocab.bpe_decode_ids): learn 6 char merges,
    rank the vocab, encode to ids, decode back — the oracle is
    CLOSED-FORM (`' '.join(text.lower().split())`, zero unknowns): if ANY
    stage of the learn->vocab->encode->decode chain corrupts a byte,
    the round-trip identity breaks. Encode is lossy exactly to the
    lowercase/whitespace token normalization, nothing else."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import (
        bpe_decode_ids,
        bpe_encode_ids,
    )

    docs = _tbl(spark, sf_dir, "documents")
    merges, symbols = _bpe_tables(docs, 6)
    ids = bpe_encode_ids(docs, merges, symbols)
    return bpe_decode_ids(ids, symbols)


def _q_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer END product (vocab.bpe_encode_ids): learn 6 char
    merges, build the frequency-ranked symbol table, emit every
    document's integer token-id sequence (space-joined for the hash
    compare — the library column is array<long>; the join-to-string is
    a native array cast + array_join, no interpreted lambda). The
    oracle re-derives merges, vocab ranking, AND per-token encoding in
    DuckDB, so the whole learn->vocab->encode->ids chain is
    value-checked end-to-end."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import bpe_encode_ids

    docs = _tbl(spark, sf_dir, "documents")
    merges, symbols = _bpe_tables(docs, 6)
    out = bpe_encode_ids(docs, merges, symbols)
    return out.select(
        "key",
        "n_symbols",
        F.array_join(F.col("ids").cast("array<string>"), " ").alias("ids"),
    )


def _q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's shipping artifact (vocab.bpe_vocab): the symbol
    vocabulary after 6 char-level merges with total corpus occurrence
    counts — base alphabet + merged units, end-of-word variants
    distinct."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import bpe_vocab

    docs = _tbl(spark, sf_dir, "documents").select("text")
    return bpe_vocab(docs, 6)


def _q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Straddle-aware packing (functions/packing.pack_chunks): one row
    per (document, pack) intersection so packs are directly trainable;
    prefix sum + JVM explode(sequence). max_tokens=5000 is SMALLER than
    many documents' n_chars, so straddles are exercised for real (the
    fixture emits more chunks than documents)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.packing import pack_chunks

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_chunks(
        docs, 5000, token_col="n_chars", order_col="doc_id"
    ).select(
        "doc_id", "pack_id", "chunk_index", "pack_offset", "tok_start",
        "chunk_tokens",
    )


def _q_attribute_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style per-document attribute table (report.attribute_table):
    the materialize-once, filter-many artifact — token count, lang
    guess, quality, blocklist hits, and integer unigram surprisal
    joined per key, every signal from its already-oracled module. The
    oracle composes the same mirrors (the prepare_gate precedent)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.report import attribute_table

    docs = _tbl(spark, sf_dir, "documents")
    return attribute_table(docs, ["vector", "stream", "nosuchword"])


def _q_wordlist_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banned-wordlist filter (wordfilter.wordlist_flags — the C4
    blocklist rule): distinct-banned-word counts per document, pure
    codegen array_intersect. The blocklist picks common vocab tokens so
    the flag genuinely splits the corpus."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.wordfilter import wordlist_flags

    docs = _tbl(spark, sf_dir, "documents")
    return wordlist_flags(docs, ["vector", "stream", "nosuchword"])


def _q_change_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl change detection (temporal.with_change_flags): per-key
    lag over snapshot states — first snapshot and state transitions
    flag changed, repeats don't. Events stand in as snapshots with a
    coarse integer state so both repeats and changes occur; timestamps
    ship as epoch micros (the TIMESTAMP_NTZ rule)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.temporal import with_change_flags

    ev = _tbl(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.expr("CAST(round(value * 100) AS BIGINT) div 500").alias("state"),
    )
    return with_change_flags(ev, key_col="user_id", ts_col="ts_us", value_col="state")


def _q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer bigram LM quality with stupid backoff
    (vocab.bigram_surprisal, r5 verdict item 4): first token scores
    unigram surprisal, later tokens the conditional floor-log2 bucket
    when the bigram reaches min_bigram_count=2, else penalty +
    unigram — all-integer, so DuckDB reproduces every score exactly."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import bigram_surprisal

    docs = _tbl(spark, sf_dir, "documents")
    return bigram_surprisal(docs)


def _q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer unigram surprisal scoring (vocab.unigram_surprisal):
    CCNet-style LM quality proxy with floor-log2 integer buckets — the
    same bit_length trick as the size histogram, so DuckDB is
    value-exact."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import unigram_surprisal

    docs = _tbl(spark, sf_dir, "documents")
    return unigram_surprisal(docs)


def _q_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing
    (vocab.surprisal_buckets): equal-population tertiles of integer
    per-token unigram surprisal via the shared two-phase global_rank —
    the quality partition CCNet keeps the head of. Total order
    (ppl_q, key), so the bucket assignment is engine-exact."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.vocab import surprisal_buckets

    docs = _tbl(spark, sf_dir, "documents")
    return surprisal_buckets(docs)


def _q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized multinomial Naive Bayes quality classifier
    (classifier.nb_quality_classifier): the fastText-style quality
    filter LLM pipelines front-load (CCNet's wiki-vs-crawl model, the
    LLaMA reference-like filter), all-integer floor-log2
    log-likelihood-ratio scoring so DuckDB is value-exact. Label on
    the fixture: lang = 'en' (the "trusted slice" shape — train on it,
    score everything); ~39% positive, so both classes bite."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.classifier import nb_quality_classifier

    docs = _tbl(spark, sf_dir, "documents").withColumn(
        "_lab", F.col("lang") == F.lit("en")
    )
    return nb_quality_classifier(docs, "_lab")


def _q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (dedup.dedup_lines — the C4/RefinedWeb
    boilerplate rule). The documents fixture is single-line, so BOTH
    sides first build multi-line docs with the identical literal
    replace (' row ' -> ' row\\n' — same leftmost-non-overlap scan in
    either engine); the 31-token vocabulary makes many lines repeat
    corpus-wide, so max_count=20 bites: frequent lines vanish from
    every document, rare ones survive in place."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.dedup import dedup_lines

    docs = _tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" row "), F.lit(" row\n")).alias("text"),
    )
    return dedup_lines(docs, max_count=20)


def _q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PARAGRAPH dedup (dedup.dedup_paragraphs — the
    RefinedWeb blank-line-unit rule, r5 verdict item 5). Both sides
    build multi-paragraph docs with the identical literal replace
    (' data ' -> ' data\\n\\n'); at the default max_count=1 (the
    C4/RefinedWeb rule: a paragraph seen twice anywhere is boilerplate)
    ~50 corpus-repeated paragraphs vanish from every document at
    either driver scale, unique ones survive in their original
    order."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.dedup import dedup_paragraphs

    docs = _tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" data "), F.lit(" data\n\n")).alias(
            "text"
        ),
    )
    return dedup_paragraphs(docs)


def _q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (sampling.
    shuffle_order): 0-based position in (salted-hash, key) order via
    the two-phase parallel ranking — the oracle IS the 1-task global
    window the implementation avoids."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sampling import shuffle_order

    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    return shuffle_order(docs, salt="epoch0").select("doc_id", "pos")


def _q_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixture (sampling.mix_corpora): three pseudo-
    sources split by doc_id % 3, sampled at web=0.5 / code=0.8 /
    books=1.0 (the rate-1.0 keep-everything path exercised) and
    union-tagged. Map-only."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sampling import mix_corpora

    docs = _tbl(spark, sf_dir, "documents")
    srcs = {
        "web": docs.filter(F.col("doc_id") % 3 == 0),
        "code": docs.filter(F.col("doc_id") % 3 == 1),
        "books": docs.filter(F.col("doc_id") % 3 == 2),
    }
    rates = {"web": 0.5, "code": 0.8, "books": 1.0}
    return mix_corpora(srcs, rates, salt="mix-v1").select("doc_id", "source")


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete corpus percentiles (report.exact_quantiles):
    value at 0-based rank (n-1)*pct//100 of the (n_chars, doc_id)
    sort — pinned integer definition, two-phase parallel ranking vs
    the oracle's global window."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.report import exact_quantiles

    docs = _tbl(spark, sf_dir, "documents")
    return exact_quantiles(docs, "n_chars", "doc_id", (25, 50, 75, 95))


def _q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample (functions/sampling.hash_sample):
    salted-md5 signed-int64 compare, exact in any engine; the sample is
    reproducible and nested across rates."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sampling import hash_sample

    docs = _tbl(spark, sf_dir, "documents")
    return hash_sample(docs, 0.2, key_col="doc_id", salt="corpus-v1").select(
        "doc_id"
    )


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (sampling.hash_split):
    disjoint intervals of the hash ring, pinned sorted-label order."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sampling import hash_split

    docs = _tbl(spark, sf_dir, "documents")
    return hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split-v1"
    ).select("doc_id", "split")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sampling (sampling.stratified_take): at most
    25 docs per lang in hash order — the data-mixing primitive, stable
    under corpus growth."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sampling import stratified_take

    docs = _tbl(spark, sf_dir, "documents")
    return stratified_take(
        docs, quota=25, strata_col="lang", key_col="doc_id", salt="mix-v1"
    ).select("doc_id", "lang")


def _q_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 16-way shard assignment (sampling.hash_bucket)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sampling import hash_bucket

    docs = _tbl(spark, sf_dir, "documents")
    return hash_bucket(docs, 16, salt="shard-v1").select("doc_id", "bucket")


def _q_asof_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (functions/temporal.asof_join — union + running-last,
    ONE shuffle): every 5th event acts as a 'quote'; each remaining
    event picks up the latest quote at-or-before its timestamp per
    user. Oracle: DuckDB's native ASOF LEFT JOIN — an independent
    engine's implementation of the same semantics."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.temporal import asof_join

    ev = _tbl(spark, sf_dir, "events")
    quotes = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id",
        "ts",
        F.col("event_id").alias("quote_id"),
        F.round(F.col("value") * 100).cast("long").alias("quote_cents"),
    )
    trades = ev.filter(F.col("event_id") % 5 != 0).select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(
        trades, quotes, ts_col="ts", by=["user_id"],
        right_cols=["quote_id", "quote_cents"],
    )
    # timestamps as epoch micros: raw timestamp columns arrive as
    # datetime64[ns] (Spark) vs datetime64[us] (DuckDB) in pandas and
    # value-compare spuriously; BIGINT micros is the repo convention
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("quote_ts_us"),
        F.col("quote_id_r").alias("quote_id"),
        F.col("quote_cents_r").alias("quote_cents"),
    )


def _q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (functions/temporal.range_join_bucketed —
    intervals explode into 1h buckets, point joins its single bucket,
    exact predicate filters inside): every 20th event opens a 2h
    window; result = (event, window) memberships. Oracle: DuckDB's
    BETWEEN theta-join."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.temporal import (
        range_join_bucketed,
    )

    ev = _tbl(spark, sf_dir, "events")
    mic = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # NTZ -> epoch us (session tz UTC)
    pts = ev.select("event_id", mic("ts").alias("t"))
    win = ev.filter(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("wid"),
        mic("ts").alias("ws"),
        (mic("ts") + F.lit(7_200_000_000)).alias("we"),
    )
    out = range_join_bucketed(
        pts, win, "t", "ws", "we", bucket=3_600_000_000
    )
    return out.select("event_id", "wid")


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (functions/pii.py — pinned RE2-safe
    rule chain, pure codegen). The corpus is word-salad with no PII, so
    the query plants synthetic PII deterministically from doc_id (email
    always; phone/ip/ssn on residue classes) — the SAME construction in
    the DuckDB mirror, so every count and every redacted byte is
    predicate-biting and value-checked."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.pii import with_pii_stats

    docs = _tbl(spark, sf_dir, "documents")
    t = F.concat(
        F.substring("text", 1, 80),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" call 555-123-4567")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" ip 10.0.0.1")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(
            F.lit("")
        ),
    )
    enriched = docs.select("doc_id", t.alias("text"))
    return with_pii_stats(enriched).select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ip",
        "has_pii",
        "text_redacted",
    )


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (functions/contamination.py): 13-gram
    collision vs an eval-set stand-in (every doc_id % 50 == 0 document).
    The corpus repeats each distinct text ~10x, so the benchmark docs'
    exact copies are flagged too — the predicate bites well beyond the
    benchmark rows themselves. Map-only plan (broadcast gram set, no
    explode-join)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.contamination import (
        contamination_hits,
    )

    docs = _tbl(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_hits(docs, bench, n=13)


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized BM25 top-k (functions/lexsearch.bm25_topk_quantized):
    TF-IDF plus tf saturation and document-length normalization, kept
    all-integer (k1=6/5, b=3/4 as rationals; avgdl floor-quantized) so
    the DuckDB mirror is value-exact."""
    from jarvis_ocr_service_spark.functions.lexsearch import (
        bm25_topk_quantized,
    )

    docs = _tbl(spark, sf_dir, "documents")
    return bm25_topk_quantized(docs, "scan window merge dup", k=10)


def _q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion (functions/fusion.hybrid_topk): the
    oracled BM25 and quantized-dot retrievers composed by integer
    reciprocal-rank fusion (Cormack et al. 2009) — contrib =
    scale // (k_const + rank), total order (rrf_q desc, key), so the
    whole lexical+semantic composition is value-exact end-to-end.
    documents and embeddings share the 0..n-1 id space, so fusing
    doc_id with vec_id ranks is meaningful on the fixture."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.fusion import hybrid_topk

    docs = _tbl(spark, sf_dir, "documents")
    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    return hybrid_topk(docs, emb, "scan window merge dup", qvec, k=10, depth=50)


def _q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-k (simsearch.mmr_topk, Carbonell & Goldstein
    1998): greedy integer selection mmr_q = 7*rel - 3*maxsim over the
    top-20 quantized-dot candidates, ties on key — the retrieval-
    diversity op. Oracle = chained MATERIALIZED CTE replaying the
    identical k rounds (the r5 4^k-inlining lesson applies: each round
    is referenced twice downstream)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.simsearch import mmr_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    return mmr_topk(emb, qvec, k=5, depth=20)


def _q_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + probe (functions/sketch): width=16 /
    depth=4 over the documents token stream — deliberately NARROW so
    bucket collisions bite and the probe estimates carry real
    over-counting (never under). Deterministic salted-md5 cells, so
    sketch and estimates are value-exact cross-engine."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sketch import cms_build, cms_estimate

    docs = _tbl(spark, sf_dir, "documents")
    sk = cms_build(docs, width=16, depth=4)
    return cms_estimate(
        sk, ["scan", "window", "merge", "dup", "the", "neverseen"], 16, 4
    )


def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form dedup (canonical.dedup_canonical — the Dolma/
    RefinedWeb normalize-before-dedup rule). The fixture docs are
    distinct, so BOTH engines first union an UPPER(text)||' !!!'
    mangled twin (key + 100000): every pair collapses to the original
    key with n_variants = 2 — the reformatting-only duplicates raw
    exact dedup misses, caught by construction."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.canonical import dedup_canonical

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!!")).alias("text"),
    )
    return dedup_canonical(docs.unionByName(mangled))


def _q_script_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition stats (canonical.script_ratios): exact
    integer code-point counts in pinned BMP blocks — the CCNet/FineWeb
    script filter's statistic. One codegen projection; the module
    ships its own DuckDB mirror."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.canonical import script_ratios

    docs = _tbl(spark, sf_dir, "documents")
    return script_ratios(docs)


def _q_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch upsampling (sampling.upsample_epochs): every doc
    floor(2.45)=2 copies, the hash-selected 45% a third — the data-
    recipe repetition op (wiki at 2.45 epochs). Map-only explode; the
    fractional threshold resolves driver-side to one integer literal,
    so both engines compare the same salted-md5 int64."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.sampling import upsample_epochs

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return upsample_epochs(docs, 2.45).select(
        F.col("doc_id").alias("key"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("epoch"),
    )


def _q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift report (importance.corpus_divergence): integer
    cross-entropy / KL numerators between the lang='en' slice and the
    rest of the corpus under Laplace-smoothed unigram LMs — the
    mixture-tuning / crawl-drift statistic. One vocabulary-bounded
    shuffle, one global agg to a single row; floor-log2 keeps both
    engines bit-identical."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.importance import corpus_divergence

    docs = _tbl(spark, sf_dir, "documents")
    return corpus_divergence(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
    )


def _q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (chunking.chunk_sliding): size=32,
    stride=16 token windows — the RAG/long-context splitter. Pinned
    all-integer window rule (kmax = ceil((n-size)/stride)), map-only
    plan (no shuffle, no Python); fixture docs run tens of tokens, so
    multi-chunk docs and the single-chunk short tail both occur."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.chunking import chunk_sliding

    docs = _tbl(spark, sf_dir, "documents")
    return chunk_sliding(docs, 32, 16)


def _q_page_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (functions/urls.outlinks_col) over the built
    pages: boilerplate pages carry 24 double-quoted nav hrefs + 2
    single-quoted footer hrefs in a fixed document order; clean pages
    carry none. The oracle is CLOSED-FORM from the page-construction spec
    (sources/pages.pages_from_documents) — independent of the extractor."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.urls import outlinks_col
    from jarvis_ocr_service_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    links = outlinks_col(F.col("html"))
    return pages.select(
        F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("long").alias("doc_id"),
        F.size(links).cast("long").alias("n_links"),
        F.array_join(links, "|").alias("links_str"),
    )


def _q_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key event-rate burst detection (temporal.rate_anomalies):
    hourly windows, 3-sigma integer z-square test with cleared
    denominators — the crawl/bot-burst flagger. Counts shuffle twice
    (window, then key), events never move."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.temporal import rate_anomalies

    events = _tbl(spark, sf_dir, "events")
    return rate_anomalies(events, key_col="user_id", ts_col="ts")


def _q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (urls.anchor_texts) over the built pages:
    (href, anchor, n) corpus-wide — the link-graph relevance signal.
    Oracle is CLOSED-FORM from the page-construction spec (26 template
    anchors once per boilerplate page), extractor-independent like
    page_outlinks."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.urls import anchor_texts
    from jarvis_ocr_service_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    return anchor_texts(pages)


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized PageRank (functions/graph.py — all-integer iteration, so
    an ITERATIVE algorithm is value-exact against a DuckDB mirror of k
    chained rounds). Deterministic hub-shaped edge fixture from doc_id:
    src = doc_id%20 -> dst = doc_id%7 (nodes 0-6 accumulate authority,
    7-19 hold base rank — varied in/out degrees, non-vacuous ranks)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.graph import pagerank_quantized

    docs = _tbl(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 20).alias("src"),
        (F.col("doc_id") % 7).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return pagerank_quantized(edges, iters=5)


def _q_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized PageRank with RENORMALIZED dangling mass (functions/
    graph.py dangling='renormalize'): each round the summed rank of
    zero-outdegree nodes is redistributed uniformly as the exact integer
    D // N. Two-layer fixture makes the term non-vacuous every round:
    src = doc_id%12 -> dst = 12 + doc_id%6, so nodes 12-17 are pure
    sinks holding ~1/3 of the mass."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.graph import pagerank_quantized

    docs = _tbl(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 12).alias("src"),
        (F.lit(12) + F.col("doc_id") % 6).alias("dst"),
    )
    return pagerank_quantized(edges, iters=5, dangling="renormalize")


def _q_prepare_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed prepare-pipeline front end (plans/prepare): page build
    -> full extraction cascade -> is_valid filter -> staged text stats ->
    token/quality gate — oracle-checkable because extraction round-trips
    to normalize(text) on this fixture, and every stat formula has an
    exact SQL mirror (over the normalized text)."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline
    from jarvis_ocr_service_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    extracted = run_pipeline(pages).filter(F.col("is_valid"))
    # gate thresholds sit INSIDE this fixture's quality/token distribution
    # (median quality ~0.71, tokens 16-94 at sf0.01) so the predicate
    # provably cuts rows — a permissive gate would pass 500/500 and the
    # filter itself would be vacuously checked
    scored = with_text_stats(
        extracted.select("url", "text"),
        stats=("n_tokens", "lang_guess", "quality"),
    ).filter(
        (F.col("n_tokens") >= 30)
        & (F.col("n_tokens") <= 100_000)
        & (F.col("quality") >= 0.7)
    )
    return scored.select(
        F.regexp_extract("url", r"/docs/(\d+)$", 1).cast("long").alias("doc_id"),
        "n_tokens",
        "lang_guess",
        "quality",
    )


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (streaming/windows.sessionize — Spark
    session_window, 5-minute gap): one shuffle on (user, session), no
    per-user history sort. Oracle: classic gaps-and-islands SQL."""
    from jarvis_ocr_service_spark.streaming.windows import sessionize

    return sessionize(_tbl(spark, sf_dir, "events"), gap="5 minutes")


def _url_fixture_col():
    """Deterministic messy-URL corpus from doc_id — 8 spelling families
    (case-variant hosts, default ports, utm params, fragments, trailing
    slashes). Mirrored verbatim in _duck_url_fixture()."""
    d = F.col("doc_id")
    k = d % 13
    m = d % 8
    return (
        F.when(m == 0, F.format_string("HTTP://Site%d.Example.COM:80/Path/To/Doc%d", k, d))
        .when(m == 1, F.format_string("https://site%d.example.com:443/path/doc%d/", k, d))
        .when(m == 2, F.format_string("http://SITE%d.example.com/path/doc%d?utm_source=x&utm_medium=y", k, d))
        .when(m == 3, F.format_string("http://site%d.EXAMPLE.com/path/doc%d?a=1&utm_campaign=z&b=2", k, d))
        .when(m == 4, F.format_string("https://Site%d.example.com/Doc%d#frag-%d", k, d, d))
        .when(m == 5, F.format_string("http://site%d.example.com/doc%d///", k, d))
        .when(m == 6, F.format_string("https://site%d.example.com/", k))
        .otherwise(F.format_string("http://site%d.example.com/a/b%d?utm_a=1&utm_b=2&utm_c=3", k, d))
    )


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py pinned rule set) over a
    deterministic messy-URL corpus — crawl-dedup's cheapest lever, pure
    Column regexps (whole-stage codegen, no Python)."""
    from jarvis_ocr_service_spark.functions.urls import canonical_url_col

    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        _url_fixture_col().alias("raw_url"),
        canonical_url_col(_url_fixture_col()).alias("curl"),
    )


def _rep_doc_col():
    """Deterministic repetition-planted document from documents.text:
    duplicated line (line_a twice) + a doc_id-dependent repeated 25-char
    tail. Mirrored verbatim in the DuckDB oracle."""
    t = F.coalesce(F.col("text"), F.lit(""))
    line_a = F.substring(t, 1, 60)
    line_b = F.substring(t, 61, 60)
    tail = F.expr(
        "repeat(concat(' ', substring(coalesce(text, ''), 1, 25)),"
        " cast(doc_id % 4 as int))"
    )
    return F.concat(line_a, F.lit("\n"), line_b, F.lit("\n"), line_a, tail)


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality stats (functions/repetition.py —
    dup-line fraction, dup-line char fraction, top-2-gram char fraction,
    dup-5-gram char fraction) over repetition-planted documents. All four
    ratios are single divisions of exact integers, so DuckDB reproduces
    them bit-for-bit."""
    _ensure_dist(spark)
    from jarvis_ocr_service_spark.functions.repetition import (
        with_repetition_stats,
    )

    docs = _tbl(spark, sf_dir, "documents").select(
        "doc_id", _rep_doc_col().alias("rep_doc")
    )
    out = with_repetition_stats(
        docs, "rep_doc", top_grams=(2,), dup_grams=(5,)
    )
    return out.select(
        "doc_id",
        F.col("rep_stats.dup_line_frac").alias("dup_line_frac"),
        F.col("rep_stats.dup_line_char_frac").alias("dup_line_char_frac"),
        F.col("rep_stats.top2_char_frac").alias("top2_char_frac"),
        F.col("rep_stats.dup5_char_frac").alias("dup5_char_frac"),
    )


def _q_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy demo: fact (orders) x dims (customer, nation) with the
    dims explicitly broadcast — at 10^12 fact rows the dims are the only
    broadcastable side, and a shuffle join on them would be the bottleneck."""
    orders = _tbl(spark, sf_dir, "orders")
    customer = _tbl(spark, sf_dir, "customer")
    nation = _tbl(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # integer cents: exact, order-independent, identical in any
            # engine (a double sum is order-dependent; decimals map to
            # different client types per engine)
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )


def _q_events_top_users_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed workload: stream table x broadcast dim + windowed top-k."""
    from pyspark.sql import Window

    events = _tbl(spark, sf_dir, "events")
    customer = _tbl(spark, sf_dir, "customer")
    joined = events.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("user_id"), "c_nationkey")),
        "user_id",
    )
    per_user = joined.groupBy("c_nationkey", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("n_events"), F.col("user_id")
    )
    return (
        per_user.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("c_nationkey", "user_id", "n_events", "rk")
    )


def _jobs_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic queue-envelope table (FIXTURES.md §2 variants) derived
    from doc_id — every validation rule gets both passing and failing rows."""
    d = _tbl(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 9 + 1).cast("int")
    seq = F.sequence(F.lit(1), k)
    return d.select(
        F.col("doc_id").alias("job_id"),
        F.when(F.col("doc_id") % 17 == 0, 999).otherwise(1).alias("schema_version"),
        F.when(F.col("doc_id") % 19 == 0, "other.event")
        .otherwise("ocr.extract_text.requested").alias("job_type"),
        F.when(F.col("doc_id") % 23 == 0, "not-a-date")
        .otherwise("2024-01-01T00:00:00Z").alias("created_at"),
        F.when(F.col("doc_id") % 29 == 0, 0)
        .otherwise((F.col("doc_id") % 3 + 1)).cast("int").alias("attempt"),
        F.when(F.col("doc_id") % 31 == 0, "").otherwise("results").alias("reply_to"),
        F.transform(
            seq,
            lambda j: F.when((F.col("doc_id") % 13 == 0) & (j == 1), "db")
            .otherwise("local_path"),
        ).alias("ref_kinds"),
        F.transform(
            seq,
            lambda j: F.when(F.col("doc_id") % 11 == 0, F.lit(0).cast("long"))
            .otherwise((j - 1).cast("long")),
        ).alias("ref_indices"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("long"))
        .when(F.col("doc_id") % 37 == 0, (k + 1).cast("long"))
        .otherwise(k.cast("long")).alias("image_count"),
        F.when(F.col("doc_id") % 41 == 0, "")
        .when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise("en").alias("options_language"),
    )


def _q_envelope_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jarvis_ocr_service_spark.operators.envelope import validate_envelope

    out = validate_envelope(_jobs_from_documents(spark, sf_dir))
    return out.select(
        "job_id", "bad_schema_version", "bad_job_type", "bad_created_at",
        "bad_attempt", "bad_reply_to", "bad_ref_count", "bad_ref_kind",
        "bad_ref_index", "bad_image_count", "bad_language",
        "error_code", "invalid_reason",
    )


def _q_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2: base64 encode/decode compat (the reference moves bytes as
    base64 because JSON can't carry binary; the engine never needs to,
    but the operators exist for API-compat)."""
    docs = _tbl(spark, sf_dir, "documents")
    # both Spark 4 and DuckDB may emit MIME-chunked base64 (Spark uses
    # \r\n every 76 chars, DuckDB \n); strip to a canonical form
    b64 = F.regexp_replace(F.base64(F.encode(F.col("text"), "UTF-8")), "[\r\n]", "")
    return docs.select(
        "doc_id",
        b64.alias("b64"),
        F.decode(F.unbase64(b64), "UTF-8").alias("roundtrip"),
    )


def _q_tesseract_lang_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: 2-letter -> tesseract 3-letter hint map with pass-through
    default (reference tesseract_provider.py:42-46)."""
    m = F.create_map(
        F.lit("en"), F.lit("eng"), F.lit("fr"), F.lit("fra"),
        F.lit("de"), F.lit("deu"), F.lit("es"), F.lit("spa"),
        F.lit("it"), F.lit("ita"),
    )
    docs = _tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.coalesce(F.element_at(m, F.lower(F.col("lang"))), F.lower(F.col("lang"))).alias(
            "tess_lang"
        ),
    )


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: JSON response parse with fallback (reference
    llm_proxy_provider.py:272-277) — on the events.props JSON column."""
    ev = _tbl(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k_val"),
    )


def _q_events_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16/T17: timestamp handling — hourly rollup of the events stream."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_events_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregate (the batch twin of the
    Structured-Streaming windowed agg; watermarked streaming form in
    streaming/windows.py)."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "value_cents")
    )


def _q_top1_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: top-1 candidate per group, deterministic tie-break
    (reference apple_vision top-candidate selection)."""
    from pyspark.sql import Window

    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.select("user_id", "event_id", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("top_event"), F.col("value").alias("top_value"))
    )


QUERIES = {
    # Definition order is NOT the order the driver sees: queries()
    # re-sorts oldest-driver-evidence-first by reading the repo's
    # CORRECTNESS_r*.json sidecars at call time (never-checked queries
    # first, then ascending last-green round, insertion order as the
    # tie-break). The driver samples a prefix of the dict, so this
    # guarantees the evidence-freshness rotation is deterministic and
    # provably oldest-first (r4 verdict item 1).
    "json_props": _q_json_props,
    "events_by_hour": _q_events_by_hour,
    "events_tumbling_5min": _q_events_tumbling_5min,
    "top1_per_user": _q_top1_per_user,
    # Round-4 additions next — never driver-checked yet, so they come
    # before the queries with green CORRECTNESS_r03 rows.
    "bm25_topk": _q_bm25_topk,
    "hybrid_topk": _q_hybrid_topk,
    "chunk_sliding": _q_chunk_sliding,
    "corpus_divergence": _q_corpus_divergence,
    "upsample_epochs": _q_upsample_epochs,
    "mmr_topk": _q_mmr_topk,
    "dedup_canonical": _q_dedup_canonical,
    "script_ratios": _q_script_ratios,
    "anchor_texts": _q_anchor_texts,
    "cms_estimates": _q_cms_estimates,
    "rate_anomalies": _q_rate_anomalies,
    "attribute_table": _q_attribute_table,
    "pagerank_dangling": _q_pagerank_dangling,
    "pii_scrub": _q_pii_scrub,
    "contamination": _q_contamination,
    "image_phash": _q_image_phash,
    "asof_quotes": _q_asof_quotes,
    "range_join_events": _q_range_join_events,
    "hash_sample": _q_hash_sample,
    "dedup_lines": _q_dedup_lines,
    "dedup_paragraphs": _q_dedup_paragraphs,
    "unigram_surprisal": _q_unigram_surprisal,
    "bigram_surprisal": _q_bigram_surprisal,
    "surprisal_buckets": _q_surprisal_buckets,
    "nb_quality": _q_nb_quality,
    "change_flags": _q_change_flags,
    "wordlist_flags": _q_wordlist_flags,
    "shuffle_order": _q_shuffle_order,
    "mix_corpora": _q_mix_corpora,
    "length_quantiles": _q_length_quantiles,
    "hash_split": _q_hash_split,
    "stratified_sample": _q_stratified_sample,
    "hash_buckets": _q_hash_buckets,
    "pack_assign": _q_pack_assign,
    "pack_chunks": _q_pack_chunks,
    "pack_texts": _q_pack_texts,
    "bpe_merges": _q_bpe_merges,
    "bpe_encode": _q_bpe_encode,
    "bpe_merges_char": _q_bpe_merges_char,
    "bpe_encode_char": _q_bpe_encode_char,
    "bpe_vocab": _q_bpe_vocab,
    "bpe_encode_ids": _q_bpe_encode_ids,
    "bpe_roundtrip": _q_bpe_roundtrip,
    "top_tokens": _q_top_tokens,
    "token_pairs": _q_token_pairs,
    "corpus_report": _q_corpus_report,
    "size_histogram": _q_size_histogram,
    "cross_corpus_dups": _q_cross_corpus_dups,
    "flagship_extract": _q_flagship,
    "extract_boilerplate_strip": _q_extract_boilerplate_strip,
    "normalize_text": _q_normalize,
    "text_len_bytes": _q_text_len_bytes,
    "min_valid_chars_gate": _q_min_valid_chars,
    "reason_truncate": _q_reason_truncate,
    "confidence_clamp": _q_confidence_clamp,
    "confidence_normalize": _q_confidence_normalize,
    "status_any_valid": _q_status_any_valid,
    "valid_count_by_lang": _q_valid_count_by_lang,
    "batch_totals": _q_batch_totals,
    "sort_by_index": _q_sort_by_index,
    "retry_predicate": _q_retry_predicate,
    "content_type_infer": _q_content_type_infer,
    "host_counts": _q_host_counts,
    "refs_validation": _q_refs_validation,
    "tier_first_valid": _q_tier_first_valid,
    "truncate_flags": _q_truncate_flags,
    "pdf_extract": _q_pdf_extract,
    "url_canonical": _q_url_canonical,
    "repetition_stats": _q_repetition_stats,
    "winnow_pairs": _q_winnow_pairs,
    "tfidf_topk": _q_tfidf_topk,
    "event_sessions": _q_event_sessions,
    "prepare_gate": _q_prepare_gate,
    "page_outlinks": _q_page_outlinks,
    "pagerank": _q_pagerank,
    # training-data ops
    "dedup_exact": _q_dedup_exact,
    "minhash_signature": _q_minhash_signature,
    "ngram_jaccard": _q_ngram_jaccard,
    "dedup_clusters": _q_dedup_clusters,
    "bucket_dedup": _q_bucket_dedup,
    "token_count": _q_token_count,
    "lang_id": _q_lang_id,
    "quality_score": _q_quality_score,
    "fingerprint_md5": _q_fingerprint,
    "quantized_dot_topk": _q_quantized_topk,
    "cosine_topk": _q_cosine_topk,
    "lsh_bucketed_topk": _q_lsh_topk,
    "simhash_near_pairs": _q_simhash_pairs,
    "embedding_near_dups": _q_embedding_near_dups,
    "knn_graph": _q_knn_graph,
    "kmeans_embeddings": _q_kmeans_embeddings,
    "semdedup": _q_semdedup,
    "ivf_topk": _q_ivf_topk,
    "dsir_weights": _q_dsir_weights,
    "select_budget": _q_select_budget,
    "dedup_spans": _q_dedup_spans,
    "rolling_hash": _q_rolling_hash,
    "image_meta": _q_image_meta,
    "pixel_stats": _q_pixel_stats,
    "winnow_fp": _q_winnow_fp,
    "audio_features": _q_audio_features,
    # joins (broadcast strategy)
    "orders_by_nation": _q_orders_by_nation,
    "events_top_users_by_nation": _q_events_top_users_by_nation,
    # API-compat scalar transforms
    "envelope_validation": _q_envelope_validation,
    "base64_roundtrip": _q_base64_roundtrip,
    "tesseract_lang_map": _q_tesseract_lang_map,
}


def _last_checked_rounds() -> dict[str, int]:
    """Per-query most recent round with a green CORRECTNESS_r*.json row
    (0 = never driver-checked). Reads the sidecars the driver itself
    writes, so the ordering below is reproducible from the repo alone."""
    import glob
    import json
    import os
    import re

    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("err") is None:
                last[name] = max(last.get(name, 0), rnd)
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oldest-driver-evidence-first: never-checked queries lead, then
    ascending last-green round, insertion order breaking ties. The
    driver samples a prefix, so the stalest evidence always refreshes
    first. Refresh horizon: with a 50-query driver sample over the
    110-query suite, every query's evidence is refreshed at least once
    every ceil(110/50) = 3 consecutive rounds (NOT 2 — the sample fell
    below half the suite when the surface passed 100 queries)."""
    last = _last_checked_rounds()
    order = {name: i for i, name in enumerate(QUERIES)}
    return {
        name: QUERIES[name]
        for name in sorted(QUERIES, key=lambda q: (last.get(q, 0), order[q]))
    }


def oracle_sql() -> dict[str, str]:
    from jarvis_ocr_service_spark.functions.report import (
        size_bucket_duck_sql as size_bucket,
    )

    norm = _duck_normalize("text")
    return {
        # The flagship's full UDF chain is oracle-checkable because the
        # synthetic page construction round-trips: extraction of the built
        # page == normalize(text) of the source document (tier-1 output on
        # clean pages includes the article only — title is skipped, there
        # is no boilerplate; tier-2 strips the injected nav/footer).
        "flagship_extract": f"""
            SELECT doc_id,
                   {norm} AS extracted_text,
                   CASE WHEN doc_id % 3 = 0 THEN 'easyocr' ELSE 'tesseract' END AS tier,
                   TRUE AS is_valid,
                   FALSE AS truncated,
                   octet_length(encode({norm})) AS text_len
            FROM documents
        """,
        "extract_boilerplate_strip": f"""
            SELECT doc_id, {norm} AS extracted_text, 'easyocr' AS tier
            FROM documents WHERE doc_id % 3 = 0
        """,
        "normalize_text": f"SELECT doc_id, {norm} AS norm_text FROM documents",
        "text_len_bytes": (
            "SELECT doc_id, octet_length(encode(text)) AS len_bytes FROM documents"
        ),
        "min_valid_chars_gate": (
            "SELECT doc_id, length(trim(coalesce(text,''))) >= 3 AS passes_gate"
            " FROM documents"
        ),
        "reason_truncate": (
            "SELECT doc_id, substr(text, 1, 200) AS reason FROM documents"
        ),
        "confidence_clamp": (
            "SELECT event_id, least(1.0::DOUBLE, greatest(0.0::DOUBLE, value / 100.0)) AS confidence"
            " FROM events"
        ),
        "confidence_normalize": """
            WITH r AS (
              SELECT event_id,
                     CASE WHEN event_id % 7 = 0 THEN -1.0e0 ELSE value END AS raw
              FROM events)
            SELECT event_id,
                   CASE WHEN raw = -1.0e0 THEN 0.0e0 ELSE raw / 100.0e0 END
                     AS norm_conf
            FROM r
        """,
        "status_any_valid": """
            SELECT doc_id // 8 AS job_id,
                   bool_or(n_chars >= 100) AS any_valid,
                   CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS valid_count,
                   count(*) AS n_images,
                   CASE WHEN bool_or(n_chars >= 100) THEN 'success' ELSE 'failed' END AS status
            FROM documents GROUP BY 1
        """,
        "valid_count_by_lang": """
            SELECT lang,
                   CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS valid_count,
                   count(*) AS total
            FROM documents GROUP BY lang
        """,
        "batch_totals": """
            SELECT source, count(*) AS total_images, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY source
        """,
        "sort_by_index": """
            SELECT lang, doc_id, idx FROM (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS idx
              FROM documents) WHERE idx <= 3
        """,
        "retry_predicate": """
            WITH coded AS (
              SELECT event_id,
                     CASE event_type
                       WHEN 'error' THEN 'ocr_engine_error'
                       WHEN 'signup' THEN 'bad_request'
                       WHEN 'click' THEN 'redis_error'
                       WHEN 'view' THEN 'unsupported_media'
                       ELSE 'internal_error' END AS error_code,
                     CAST(event_id % 4 + 1 AS INT) AS attempt
              FROM events)
            SELECT event_id, error_code, attempt,
                   attempt < 3 AND error_code IN
                     ('ocr_engine_error','file_read_error','redis_error','internal_error')
                   AS should_retry
            FROM coded
        """,
        "content_type_infer": """
            WITH e AS (
              SELECT doc_id,
                     ['png','jpg','jpeg','webp','tiff','xyz'][(doc_id % 6 + 1)::int] AS ext
              FROM documents)
            SELECT doc_id, ext,
                   coalesce(CASE ext
                     WHEN 'png' THEN 'image/png'
                     WHEN 'jpg' THEN 'image/jpeg'
                     WHEN 'jpeg' THEN 'image/jpeg'
                     WHEN 'webp' THEN 'image/webp'
                     WHEN 'tiff' THEN 'image/tiff'
                     ELSE NULL END, 'image/png') AS content_type
            FROM e
        """,
        "host_counts": """
            SELECT 'site' || (doc_id % 50)::varchar || '.example.org' AS host,
                   count(*) AS n
            FROM documents GROUP BY 1
        """,
        "refs_validation": """
            WITH r AS (
              SELECT doc_id,
                     string_split(text, ' ')[1:(doc_id % 10 + 1)::int] AS refs
              FROM documents)
            SELECT doc_id,
                   len(refs) AS n_refs,
                   len(refs) BETWEEN 1 AND 8 AS count_ok,
                   len(list_distinct(refs)) = len(refs) AS unique_ok
            FROM r
        """,
        "tier_first_valid": """
            WITH cand AS (
              SELECT d.doc_id, t.rank, t.tier,
                     (d.doc_id + 7 * t.rank) % 3 = 0 AS valid
              FROM documents d
              CROSS JOIN (VALUES (0,'tesseract'),(1,'easyocr'),(2,'paddleocr'))
                   AS t(rank, tier))
            SELECT d.doc_id,
                   coalesce(min_by(c.tier, c.rank), 'none') AS first_valid_tier
            FROM documents d
            LEFT JOIN (SELECT * FROM cand WHERE valid) c USING (doc_id)
            GROUP BY d.doc_id
        """,
        # ------------------- training-data ops -------------------
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "minhash_signature": f"""
            WITH t AS (SELECT doc_id, {_duck_spark_tokens('text')} AS toks
                       FROM documents),
            s AS (SELECT doc_id,
                    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                         ELSE list_distinct(list_transform(
                                generate_series(1, len(toks)-2),
                                i -> array_to_string(toks[i:i+2], ' ')))
                    END AS sh
                  FROM t)
            SELECT doc_id,
                   list_aggr(list_transform(sh, x -> md5(x || '#0')), 'min') AS mh0,
                   list_aggr(list_transform(sh, x -> md5(x || '#1')), 'min') AS mh1,
                   list_aggr(list_transform(sh, x -> md5(x || '#2')), 'min') AS mh2,
                   list_aggr(list_transform(sh, x -> md5(x || '#3')), 'min') AS mh3
            FROM s
        """,
        # non-vacuous by construction: every doc gets a 3/4-truncated twin
        # (jaccard ~0.7 >= 0.4), so the pair set is non-empty and stable.
        # The oracle is plain all-pairs Jaccard — the Spark side's prefix
        # blocking is exact (a lossless candidate filter), so results match.
        "ngram_jaccard": f"""
            WITH base AS (
              SELECT doc_id, {_duck_spark_tokens('text')} AS toks
              FROM documents WHERE doc_id < 80),
            twins AS (
              SELECT doc_id + 100000 AS doc_id,
                     array_to_string(
                       toks[1:greatest(1, CAST(floor(len(toks)*3/4.0) AS INT))],
                       ' ') AS text
              FROM base),
            corpus AS (
              SELECT doc_id, toks[1:500] AS toks FROM base
              UNION ALL
              SELECT doc_id, {_duck_spark_tokens('text')}[1:500] AS toks
              FROM twins),
            s AS (SELECT doc_id,
                    CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                         ELSE list_distinct(list_transform(
                                generate_series(1, len(toks)-4),
                                i -> array_to_string(toks[i:i+4], ' ')))
                    END AS sh
                  FROM corpus),
            sizes AS (SELECT doc_id, len(sh) AS n FROM s),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
            common AS (
              SELECT a.doc_id AS key_a, b.doc_id AS key_b,
                     CAST(count(*) AS BIGINT) AS inter
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT key_a, key_b,
                   CAST(inter AS DOUBLE)/(na.n + nb.n - inter) AS jaccard
            FROM common
            JOIN sizes na ON na.doc_id = key_a
            JOIN sizes nb ON nb.doc_id = key_b
            WHERE CAST(inter AS DOUBLE)/(na.n + nb.n - inter) >= 0.4e0
        """,
        "token_count": rf"""
            SELECT doc_id,
                   CAST(CASE WHEN trim(coalesce(text,'')) = '' THEN 0
                        ELSE len({_duck_spark_tokens('text')})
                        END AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(coalesce(text,''),
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9_ \t\n\r\x0B\f]'))
                        AS BIGINT) AS n_subtokens
            FROM documents
        """,
        "lang_id": _duck_lang_id(),
        "quality_score": _duck_quality_score(),
        "fingerprint_md5": f"""
            SELECT doc_id, md5({_duck_normalize('text')}) AS fingerprint
            FROM documents
        """,
        "orders_by_nation": """
            SELECT n.n_name, count(*) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "events_top_users_by_nation": """
            SELECT c_nationkey, user_id, n_events, rk FROM (
              SELECT c.c_nationkey, e.user_id,
                     CAST(count(*) AS BIGINT) AS n_events,
                     row_number() OVER (
                       PARTITION BY c.c_nationkey
                       ORDER BY count(*) DESC, e.user_id) AS rk
              FROM events e JOIN customer c ON e.user_id = c.c_custkey
              GROUP BY c.c_nationkey, e.user_id)
            WHERE rk <= 3
        """,
        "envelope_validation": """
            WITH jobs AS (
              SELECT doc_id AS job_id,
                     CASE WHEN doc_id % 17 = 0 THEN 999 ELSE 1 END AS schema_version,
                     CASE WHEN doc_id % 19 = 0 THEN 'other.event'
                          ELSE 'ocr.extract_text.requested' END AS job_type,
                     CASE WHEN doc_id % 23 = 0 THEN 'not-a-date'
                          ELSE '2024-01-01T00:00:00Z' END AS created_at,
                     CASE WHEN doc_id % 29 = 0 THEN 0
                          ELSE CAST(doc_id % 3 + 1 AS INT) END AS attempt,
                     CASE WHEN doc_id % 31 = 0 THEN '' ELSE 'results' END AS reply_to,
                     list_transform(generate_series(1, (doc_id % 9 + 1)::int),
                       j -> CASE WHEN doc_id % 13 = 0 AND j = 1 THEN 'db'
                                 ELSE 'local_path' END) AS ref_kinds,
                     list_transform(generate_series(1, (doc_id % 9 + 1)::int),
                       j -> CASE WHEN doc_id % 11 = 0 THEN CAST(0 AS BIGINT)
                                 ELSE CAST(j - 1 AS BIGINT) END) AS ref_indices,
                     CASE WHEN doc_id % 5 = 0 THEN NULL
                          WHEN doc_id % 37 = 0 THEN CAST(doc_id % 9 + 2 AS BIGINT)
                          ELSE CAST(doc_id % 9 + 1 AS BIGINT) END AS image_count,
                     CASE WHEN doc_id % 41 = 0 THEN ''
                          WHEN doc_id % 7 = 0 THEN NULL
                          ELSE 'en' END AS options_language
              FROM documents),
            checked AS (
              SELECT *,
                len(ref_kinds) AS n_refs,
                schema_version != 1 AS bad_schema_version,
                job_type != 'ocr.extract_text.requested' AS bad_job_type,
                try_cast(regexp_replace(created_at, 'Z$', '+00:00') AS TIMESTAMPTZ)
                  IS NULL AS bad_created_at,
                coalesce(attempt, 0) < 1 AS bad_attempt,
                coalesce(reply_to, '') = '' AS bad_reply_to,
                NOT (len(ref_kinds) BETWEEN 1 AND 8) AS bad_ref_count,
                len(list_filter(ref_kinds,
                    k -> k NOT IN ('local_path','s3','minio'))) > 0 AS bad_ref_kind,
                (len(list_distinct(ref_indices)) != len(ref_indices))
                  OR len(list_filter(ref_indices, i -> i < 0)) > 0 AS bad_ref_index,
                coalesce(image_count, len(ref_kinds)) != len(ref_kinds)
                  AS bad_image_count,
                options_language IS NOT NULL AND options_language = ''
                  AS bad_language
              FROM jobs)
            SELECT job_id, bad_schema_version, bad_job_type, bad_created_at,
                   bad_attempt, bad_reply_to, bad_ref_count, bad_ref_kind,
                   bad_ref_index, bad_image_count, bad_language,
                   CASE WHEN bad_schema_version OR bad_job_type OR bad_created_at
                          OR bad_attempt OR bad_reply_to OR bad_ref_count
                          OR bad_ref_kind OR bad_ref_index OR bad_image_count
                          OR bad_language
                        THEN 'schema_invalid' END AS error_code,
                   substr(CASE
                     WHEN bad_schema_version THEN 'bad_schema_version'
                     WHEN bad_job_type THEN 'bad_job_type'
                     WHEN bad_created_at THEN 'bad_created_at'
                     WHEN bad_attempt THEN 'bad_attempt'
                     WHEN bad_reply_to THEN 'bad_reply_to'
                     WHEN bad_ref_count THEN 'bad_ref_count'
                     WHEN bad_ref_kind THEN 'bad_ref_kind'
                     WHEN bad_ref_index THEN 'bad_ref_index'
                     WHEN bad_image_count THEN 'bad_image_count'
                     WHEN bad_language THEN 'bad_language' END, 1, 200)
                   AS invalid_reason
            FROM checked
        """,
        "base64_roundtrip": """
            SELECT doc_id,
                   replace(to_base64(encode(text)), chr(10), '') AS b64,
                   decode(from_base64(to_base64(encode(text)))) AS roundtrip
            FROM documents
        """,
        "tesseract_lang_map": """
            SELECT doc_id,
                   coalesce(CASE lower(lang)
                     WHEN 'en' THEN 'eng' WHEN 'fr' THEN 'fra'
                     WHEN 'de' THEN 'deu' WHEN 'es' THEN 'spa'
                     WHEN 'it' THEN 'ita' ELSE NULL END,
                     lower(lang)) AS tess_lang
            FROM documents
        """,
        "json_props": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
        """,
        "events_by_hour": """
            SELECT date_trunc('hour', ts) AS hour, count(*) AS n
            FROM events GROUP BY 1
        """,
        "events_tumbling_5min": """
            SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start,
                   count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM events GROUP BY 1
        """,
        "top1_per_user": """
            SELECT user_id, event_id AS top_event, value AS top_value FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "quantized_dot_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id,
                     CAST(list_sum(list_transform(
                       generate_series(1, len(e.embedding)),
                       i -> CAST(round(CAST(e.embedding[i] AS DOUBLE)*1000) AS BIGINT)
                          * CAST(round(CAST(q.qe[i] AS DOUBLE)*1000) AS BIGINT)))
                       AS BIGINT) AS dot_q
              FROM embeddings e, q)
            SELECT vec_id, dot_q FROM scored ORDER BY dot_q DESC, vec_id LIMIT 10
        """,
        "simhash_near_pairs": _duck_simhash_pairs(10, "doc_id < 200"),
        "dedup_clusters": _duck_dedup_clusters(),
        "bucket_dedup": _duck_bucket_dedup(16, 4, 0.7),
        "cosine_topk": _duck_cosine_topk(),
        "lsh_bucketed_topk": _duck_lsh_topk(4, 2),
        "embedding_near_dups": _duck_embedding_near_dups(0.999, 48, 6),
        "knn_graph": _duck_knn_graph(3, 24, 6),
        "kmeans_embeddings": _duck_kmeans(4, 3),
        "semdedup": _duck_semdedup(4, 2, 0.99),
        "ivf_topk": _duck_ivf_topk(4, 2, 2, 10),
        "dsir_weights": _duck_dsir_weights(512),
        "dedup_spans": _duck_dedup_spans(8, 2),
        "select_budget": f"""
            WITH t AS (SELECT doc_id AS key,
                              CAST(n_chars AS BIGINT) AS score,
                              CAST(len({_duck_py_tokens("lower(text)")})
                                   AS BIGINT) AS n_toks
                       FROM documents),
            c AS (SELECT key, score, n_toks,
                         CAST(sum(n_toks) OVER (ORDER BY score DESC, key)
                              AS BIGINT) AS cum_size
                  FROM t)
            SELECT key, score, n_toks, cum_size
            FROM c WHERE cum_size <= 10000
        """,
        "rolling_hash": _duck_rolling_hash(),
        "truncate_flags": _duck_truncate_flags(),
        "pdf_extract": _duck_pdf_extract(),
        "prepare_gate": _duck_prepare_gate(),
        "page_outlinks": _duck_page_outlinks(),
        "anchor_texts": _duck_anchor_texts(),
        "pagerank": _duck_pagerank(5),
        "pagerank_dangling": _duck_pagerank_dangling(5),
        "url_canonical": _duck_url_canonical(),
        "repetition_stats": _duck_repetition_stats(),
        "winnow_pairs": _duck_winnow_pairs(12, "doc_id < 200"),
        "tfidf_topk": _duck_tfidf_topk(["scan", "window", "merge", "dup"], 10),
        "bm25_topk": _duck_bm25_topk(["scan", "window", "merge", "dup"], 10),
        "hybrid_topk": _duck_hybrid_topk(
            ["scan", "window", "merge", "dup"], 50, 10
        ),
        # the module's own mirror emits the copy count with the same
        # driver-resolved threshold literal; scalar-list generate_series
        "upsample_epochs": _duck_upsample_epochs(2.45),
        "mmr_topk": _duck_mmr_topk(5, 20, 7, 10),
        "dedup_canonical": _duck_dedup_canonical(),
        "script_ratios": _duck_script_ratios(),
        "cms_estimates": _duck_cms_estimates(
            ["scan", "window", "merge", "dup", "the", "neverseen"], 16, 4
        ),
        # the prepare_gate composition precedent: every signal's own
        # mirror, joined per key (n_tokens uses the extraction token
        # class via _duck_spark_tokens; wordlist/surprisal the py-token
        # class — each matching its module's pinned semantics)
        "attribute_table": f"""
            WITH lang AS ({_duck_lang_id("documents")}),
            q AS ({_duck_quality_score("documents")}),
            tok AS (SELECT doc_id,
                           CAST(CASE WHEN trim(coalesce(text, '')) = ''
                                THEN 0
                                ELSE len({_duck_spark_tokens('text')})
                                END AS BIGINT) AS n_tokens
                    FROM documents),
            wl AS (SELECT doc_id,
                          CAST(len(list_intersect(
                               {_duck_py_tokens("lower(text)")},
                               ['nosuchword', 'stream', 'vector']))
                               AS BIGINT) AS n_banned
                   FROM documents),
            utok AS (SELECT doc_id,
                            unnest({_duck_py_tokens("lower(text)")})
                                AS token
                     FROM documents),
            c AS (SELECT token, count(*) AS n FROM utok GROUP BY token),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
            s AS (SELECT token,
                         CAST(length(to_base(CAST(greatest(t // n, 1)
                                                  AS BIGINT), 2)) - 1
                              AS BIGINT) AS s
                  FROM c CROSS JOIN tot),
            x AS (SELECT doc_id, sum(s) AS surprisal
                  FROM utok JOIN s USING (token) GROUP BY doc_id)
            SELECT d.doc_id AS key, tok.n_tokens, lang.lang_guess,
                   q.quality, wl.n_banned,
                   CAST(coalesce(x.surprisal, 0) AS BIGINT) AS surprisal
            FROM documents d
            JOIN tok USING (doc_id)
            JOIN lang USING (doc_id)
            JOIN q USING (doc_id)
            JOIN wl USING (doc_id)
            LEFT JOIN x USING (doc_id)
        """,
        # classifier-style per-corpus Laplace surprisal, symmetric:
        # one token-tagged union, the same to_base floor-log2, numerator
        # sums to one row
        "corpus_divergence": f"""
            WITH u AS (
              SELECT token, 1 AS p, 0 AS q
              FROM (SELECT unnest({_duck_py_tokens("lower(text)")})
                               AS token
                    FROM documents WHERE lang = 'en')
              UNION ALL
              SELECT token, 0 AS p, 1 AS q
              FROM (SELECT unnest({_duck_py_tokens("lower(text)")})
                               AS token
                    FROM documents WHERE lang <> 'en')),
            c AS (SELECT token, CAST(sum(p) AS BIGINT) AS np,
                         CAST(sum(q) AS BIGINT) AS nq
                  FROM u GROUP BY token),
            tot AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS tp,
                           CAST(coalesce(sum(nq), 0) AS BIGINT) AS tq,
                           CAST(count(*) AS BIGINT) AS v
                    FROM c),
            s AS (SELECT np, nq,
                         {_duck_flog2('(tp + v) // (np + 1)')} AS sp,
                         {_duck_flog2('(tq + v) // (nq + 1)')} AS sq
                  FROM c CROSS JOIN tot)
            SELECT (SELECT tp FROM tot) AS t_p,
                   (SELECT tq FROM tot) AS t_q,
                   (SELECT v FROM tot) AS v,
                   CAST(coalesce(sum(CASE WHEN nq = 0 THEN np ELSE 0
                                     END), 0) AS BIGINT) AS oov_p,
                   CAST(coalesce(sum(CASE WHEN np = 0 THEN nq ELSE 0
                                     END), 0) AS BIGINT) AS oov_q,
                   CAST(coalesce(sum(np * sp), 0) AS BIGINT) AS ent_p,
                   CAST(coalesce(sum(nq * sq), 0) AS BIGINT) AS ent_q,
                   CAST(coalesce(sum(np * sq), 0) AS BIGINT) AS xent_pq,
                   CAST(coalesce(sum(nq * sp), 0) AS BIGINT) AS xent_qp,
                   CAST(coalesce(sum(np * sq), 0)
                        - coalesce(sum(np * sp), 0) AS BIGINT) AS kl_pq,
                   CAST(coalesce(sum(nq * sp), 0)
                        - coalesce(sum(nq * sq), 0) AS BIGINT) AS kl_qp
            FROM s
        """,
        # the pinned sliding-window rule; scalar-list generate_series
        # (DuckDB's TABLE-function generate_series rejects lateral
        # column parameters; the scalar-list unnest form does not);
        # DuckDB list slices are 1-based end-inclusive, so [s+1 : s+m]
        # is exactly Spark's slice(toks, s+1, m)
        "chunk_sliding": f"""
            WITH t AS (SELECT doc_id,
                              {_duck_py_tokens("lower(text)")} AS toks
                       FROM documents),
            k AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
                         CASE WHEN len(toks) <= 32 THEN 0
                              ELSE (len(toks) - 32 + 16 - 1) // 16
                         END AS kmax
                  FROM t),
            c AS (SELECT doc_id, toks, n,
                         unnest(generate_series(0, kmax)) AS ci
                  FROM k)
            SELECT doc_id AS key,
                   CAST(ci AS BIGINT) AS chunk_idx,
                   CAST(ci * 16 AS BIGINT) AS start_tok,
                   CAST(least(32, n - ci * 16) AS BIGINT) AS n_toks,
                   array_to_string(
                     toks[CAST(ci * 16 + 1 AS BIGINT)
                          : CAST(ci * 16 + least(32, n - ci * 16)
                                 AS BIGINT)],
                     ' ') AS chunk_text
            FROM c
        """,
        "pii_scrub": _duck_pii_scrub(),
        "contamination": _duck_contamination(13, 50),
        "image_phash": _duck_image_phash(60),
        "asof_quotes": """
            WITH q AS (SELECT user_id, ts, event_id AS quote_id,
                              CAST(round(value * 100) AS BIGINT)
                                AS quote_cents
                       FROM events WHERE event_id % 5 = 0),
            t AS (SELECT user_id, event_id, ts
                  FROM events WHERE event_id % 5 != 0)
            SELECT t.user_id, t.event_id,
                   epoch_us(t.ts) AS ts_us,
                   epoch_us(q.ts) AS quote_ts_us,
                   q.quote_id, q.quote_cents
            FROM t ASOF LEFT JOIN q
              ON t.user_id = q.user_id AND t.ts >= q.ts
        """,
        "cross_corpus_dups": _duck_cross_corpus_dups(),
        "corpus_report": """
            SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_size,
                   CAST(min(n_chars) AS BIGINT) AS min_size,
                   CAST(max(n_chars) AS BIGINT) AS max_size
            FROM documents GROUP BY lang
        """,
        "size_histogram": _duck_size_histogram(),
        "bpe_merges": _duck_bpe_merges(8),
        "bpe_encode": _duck_bpe_encode(6),
        "bpe_merges_char": _duck_bpe_merges_char(8),
        "bpe_encode_char": _duck_bpe_encode_char(6),
        "bpe_vocab": _duck_bpe_vocab(6),
        "bpe_encode_ids": _duck_bpe_encode_ids(6),
        # the round-trip identity IS the oracle: decode(encode(text))
        # must equal the normalized token stream with zero unknowns
        "bpe_roundtrip": f"""
            SELECT doc_id AS key, CAST(0 AS BIGINT) AS n_unknown,
                   array_to_string({_duck_py_tokens("lower(text)")}, ' ')
                       AS text
            FROM documents
        """,
        "top_tokens": _duck_top_tokens(50),
        "token_pairs": _duck_token_pairs(5),
        "pack_assign": """
            WITH c AS (SELECT doc_id, n_chars,
                              CAST(sum(n_chars) OVER (ORDER BY doc_id)
                                   AS BIGINT) AS cum
                       FROM documents)
            SELECT doc_id,
                   CAST((cum - n_chars) // 5000 AS BIGINT) AS pack_id,
                   CAST((cum - n_chars) % 5000 AS BIGINT) AS pack_offset
            FROM c
        """,
        "pack_chunks": """
            WITH c AS (SELECT doc_id, n_chars,
                              CAST(sum(n_chars) OVER (ORDER BY doc_id)
                                   - n_chars AS BIGINT) AS start
                       FROM documents
                       WHERE n_chars > 0),
            x AS (SELECT doc_id, n_chars, start,
                         unnest(generate_series(start // 5000,
                                 (start + n_chars - 1) // 5000)) AS pack_id
                  FROM c)
            SELECT doc_id,
                   CAST(pack_id AS BIGINT) AS pack_id,
                   CAST(pack_id - start // 5000 AS BIGINT) AS chunk_index,
                   CAST(GREATEST(pack_id * 5000, start)
                        - pack_id * 5000 AS BIGINT) AS pack_offset,
                   CAST(GREATEST(pack_id * 5000, start)
                        - start AS BIGINT) AS tok_start,
                   CAST(LEAST((pack_id + 1) * 5000, start + n_chars)
                        - GREATEST(pack_id * 5000, start)
                        AS BIGINT) AS chunk_tokens
            FROM x
        """,
        # the pack_chunks window mirror extended with token slices and an
        # ordered string_agg — the assembled-pack twin
        "pack_texts": f"""
            WITH t AS MATERIALIZED (
              SELECT doc_id, {_duck_py_tokens("lower(text)")} AS toks,
                     CAST(len(toks) AS BIGINT) AS n
              FROM documents),
            c AS (SELECT doc_id, toks, n,
                         CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT)
                             AS start
                  FROM t WHERE n > 0),
            x AS (SELECT toks, n, start,
                         unnest(generate_series(start // 64,
                                 (start + n - 1) // 64)) AS pack_id
                  FROM c),
            ch AS (SELECT pack_id,
                          GREATEST(pack_id * 64, start) - pack_id * 64
                              AS pack_offset,
                          GREATEST(pack_id * 64, start) - start AS tok_start,
                          LEAST((pack_id + 1) * 64, start + n)
                              - GREATEST(pack_id * 64, start) AS ct_len,
                          toks
                   FROM x)
            SELECT CAST(pack_id AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(ct_len) AS BIGINT) AS n_tokens,
                   string_agg(
                     array_to_string(
                       toks[CAST(tok_start + 1 AS BIGINT)
                            : CAST(tok_start + ct_len AS BIGINT)], ' '),
                     ' ' ORDER BY pack_offset) AS text
            FROM ch GROUP BY pack_id
        """,
        "hash_sample": _duck_hash_sample(0.2, "corpus-v1"),
        "wordlist_flags": f"""
            SELECT doc_id AS key,
                   CAST(len(list_intersect(
                        {_duck_py_tokens("lower(text)")},
                        ['nosuchword', 'stream', 'vector'])) AS BIGINT)
                       AS n_hits,
                   len(list_intersect(
                        {_duck_py_tokens("lower(text)")},
                        ['nosuchword', 'stream', 'vector'])) > 0 AS flagged
            FROM documents
        """,
        # the cleared-denominator z-square mirror; integer window div on
        # epoch micros (events are TIMESTAMP_NTZ, session tz Etc/UTC)
        "rate_anomalies": """
            WITH c AS (SELECT user_id AS key,
                              epoch_us(CAST(ts AS TIMESTAMP))
                                  // 3600000000 AS w,
                              CAST(count(*) AS BIGINT) AS n
                       FROM events GROUP BY 1, 2),
            s AS (SELECT key, CAST(count(*) AS BIGINT) AS W,
                         CAST(sum(n) AS BIGINT) AS S,
                         CAST(sum(n * n) AS BIGINT) AS SS
                  FROM c GROUP BY key)
            SELECT c.key,
                   CAST(c.w * 3600000000 AS BIGINT) AS win_start_us,
                   c.n,
                   ((s.W * c.n - s.S) * (s.W * c.n - s.S)
                    > 9 * (s.W * s.SS - s.S * s.S)) AS flagged
            FROM c JOIN s USING (key)
        """,
        "change_flags": """
            WITH s AS (SELECT user_id,
                              epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                              CAST(round(value * 100) AS BIGINT) // 500
                                  AS state
                       FROM events)
            SELECT user_id, ts_us, state,
                   (row_number() OVER w = 1)
                   OR (state IS DISTINCT FROM lag(state) OVER w) AS changed
            FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, state)
        """,
        "bigram_surprisal": f"""
            WITH t AS (SELECT doc_id,
                              {_duck_py_tokens("lower(text)")} AS l
                       FROM documents),
            uni AS (SELECT token, CAST(count(*) AS BIGINT) AS n
                    FROM (SELECT unnest(l) AS token FROM t) GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM uni),
            ex AS (SELECT doc_id,
                          unnest(list_prepend(CAST(NULL AS VARCHAR),
                                              l[1:len(l) - 1])) AS a,
                          unnest(l) AS b
                   FROM t WHERE len(l) > 0),
            big AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
                    FROM ex WHERE a IS NOT NULL
                    GROUP BY 1, 2 HAVING count(*) >= 2),
            sc AS (SELECT e.doc_id,
                          CASE
                            WHEN e.a IS NULL THEN
                              {size_bucket('tot.t // ub.n')}
                            WHEN bg.n_ab IS NOT NULL THEN
                              {size_bucket('ua.n // bg.n_ab')}
                            ELSE 4 + {size_bucket('tot.t // ub.n')}
                          END AS s
                   FROM ex e
                   CROSS JOIN tot
                   JOIN uni ub ON ub.token = e.b
                   LEFT JOIN uni ua ON ua.token = e.a
                   LEFT JOIN big bg ON bg.a = e.a AND bg.b = e.b),
            per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                           CAST(sum(s) AS BIGINT) AS surprisal
                    FROM sc GROUP BY 1)
            SELECT d.doc_id AS key,
                   coalesce(p.n_tokens, 0) AS n_tokens,
                   coalesce(p.surprisal, 0) AS surprisal
            FROM documents d LEFT JOIN per p USING (doc_id)
        """,
        "unigram_surprisal": f"""
            WITH tok AS (SELECT doc_id,
                                unnest({_duck_py_tokens("lower(text)")})
                                    AS token
                         FROM documents),
            c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
            s AS (SELECT token,
                         CAST(length(to_base(CAST(greatest(t // n, 1)
                                                  AS BIGINT), 2)) - 1
                              AS BIGINT) AS s
                  FROM c CROSS JOIN tot),
            x AS (SELECT doc_id, count(*) AS n_tokens,
                         sum(s) AS surprisal
                  FROM tok JOIN s USING (token) GROUP BY doc_id)
            SELECT d.doc_id AS key,
                   CAST(coalesce(x.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(x.surprisal, 0) AS BIGINT) AS surprisal
            FROM documents d LEFT JOIN x USING (doc_id)
        """,
        # surprisal mirror + the pinned total-order tertile rule; the
        # naive row_number global window here is exactly what the Spark
        # side's two-phase global_rank avoids
        "surprisal_buckets": f"""
            WITH tok AS (SELECT doc_id,
                                unnest({_duck_py_tokens("lower(text)")})
                                    AS token
                         FROM documents),
            c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
            s AS (SELECT token,
                         CAST(length(to_base(CAST(greatest(t // n, 1)
                                                  AS BIGINT), 2)) - 1
                              AS BIGINT) AS s
                  FROM c CROSS JOIN tot),
            x AS (SELECT doc_id, count(*) AS n_tokens,
                         sum(s) AS surprisal
                  FROM tok JOIN s USING (token) GROUP BY doc_id),
            p AS (SELECT d.doc_id AS key,
                         CASE WHEN coalesce(x.n_tokens, 0) > 0
                              THEN (x.surprisal * 1000) // x.n_tokens
                              ELSE {1 << 62} END AS ppl_q
                  FROM documents d LEFT JOIN x USING (doc_id)),
            r AS (SELECT key, ppl_q,
                         row_number() OVER (ORDER BY ppl_q, key) - 1
                             AS pos,
                         count(*) OVER () AS n
                  FROM p)
            SELECT key, CAST(ppl_q AS BIGINT) AS ppl_q,
                   CAST(pos * 3 // n AS BIGINT) AS bucket,
                   CASE pos * 3 // n WHEN 0 THEN 'head'
                        WHEN 1 THEN 'middle' ELSE 'tail' END
                       AS bucket_name
            FROM r
        """,
        # quantized NB mirror: per-class Laplace surprisal via the same
        # to_base floor-log2; prior/w_unseen fall out of the scalar CTEs
        # (self-train query, so every scored token is in the weights
        # table and w_unseen never fires here — nb_score's unseen path
        # is pinned by tests/test_classifier.py instead)
        "nb_quality": f"""
            WITH tok AS (SELECT doc_id, (lang = 'en') AS lab,
                                unnest({_duck_py_tokens("lower(text)")})
                                    AS token
                         FROM documents),
            c AS (SELECT token,
                         CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END)
                              AS BIGINT) AS cpos,
                         CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END)
                              AS BIGINT) AS cneg
                  FROM tok GROUP BY token),
            tot AS (SELECT CAST(coalesce(sum(cpos), 0) AS BIGINT) AS np,
                           CAST(coalesce(sum(cneg), 0) AS BIGINT) AS nn,
                           CAST(count(*) AS BIGINT) AS v
                    FROM c),
            w AS (SELECT token,
                         {_duck_flog2('(nn + v) // (cneg + 1)')}
                         - {_duck_flog2('(np + v) // (cpos + 1)')} AS w
                  FROM c CROSS JOIN tot),
            dt AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0
                                   END) AS BIGINT) AS npos
                   FROM documents),
            pr AS (SELECT {_duck_flog2('(nd + 2) // (nd - npos + 1)')}
                          - {_duck_flog2('(nd + 2) // (npos + 1)')}
                              AS prior
                   FROM dt),
            x AS (SELECT t.doc_id, CAST(sum(w.w) AS BIGINT) AS ws
                  FROM tok t JOIN w USING (token) GROUP BY t.doc_id)
            SELECT d.doc_id AS key,
                   CAST(coalesce(x.ws, 0) + pr.prior AS BIGINT) AS score,
                   (coalesce(x.ws, 0) + pr.prior >= 0) AS pred
            FROM documents d CROSS JOIN pr
                 LEFT JOIN x ON d.doc_id = x.doc_id
        """,
        "dedup_lines": """
            WITH src AS (SELECT doc_id,
                                replace(text, ' row ', ' row' || chr(10)) AS t
                         FROM documents),
            l AS (SELECT doc_id,
                         unnest(string_split(t, chr(10))) AS line,
                         generate_subscripts(string_split(t, chr(10)), 1)
                             AS pos
                  FROM src),
            hot AS (SELECT line FROM l WHERE line != ''
                    GROUP BY line HAVING count(*) > 20),
            k AS (SELECT l.* FROM l ANTI JOIN hot USING (line)),
            r AS (SELECT doc_id,
                         string_agg(line, chr(10) ORDER BY pos) AS text
                  FROM k GROUP BY doc_id)
            SELECT d.doc_id AS key, coalesce(r.text, '') AS text
            FROM documents d LEFT JOIN r USING (doc_id)
        """,
        "dedup_paragraphs": """
            WITH src AS (SELECT doc_id,
                                replace(text, ' data ',
                                        ' data' || chr(10) || chr(10)) AS t
                         FROM documents),
            l AS (SELECT doc_id,
                         unnest(string_split(t, chr(10) || chr(10)))
                             AS para,
                         generate_subscripts(
                             string_split(t, chr(10) || chr(10)), 1) AS pos
                  FROM src),
            hot AS (SELECT para FROM l WHERE para != ''
                    GROUP BY para HAVING count(*) > 1),
            k AS (SELECT l.* FROM l ANTI JOIN hot USING (para)),
            r AS (SELECT doc_id,
                         string_agg(para, chr(10) || chr(10)
                                    ORDER BY pos) AS text
                  FROM k GROUP BY doc_id)
            SELECT d.doc_id AS key, coalesce(r.text, '') AS text
            FROM documents d LEFT JOIN r USING (doc_id)
        """,
        "shuffle_order": _duck_shuffle_order("epoch0"),
        "mix_corpora": _duck_mix_corpora(
            {"web": 0.5, "code": 0.8, "books": 1.0}, "mix-v1"
        ),
        "length_quantiles": """
            WITH r AS (SELECT n_chars AS v,
                              row_number() OVER (ORDER BY n_chars, doc_id)
                                  - 1 AS pos,
                              count(*) OVER () AS n
                       FROM documents)
            SELECT CAST(p.pct AS BIGINT) AS pct, CAST(r.v AS BIGINT) AS value
            FROM r JOIN (VALUES (25), (50), (75), (95)) p(pct)
                 ON r.pos = (r.n - 1) * p.pct // 100
        """,
        "hash_split": _duck_hash_split(
            {"train": 0.8, "val": 0.1, "test": 0.1}, "split-v1"
        ),
        "stratified_sample": _duck_stratified_sample(25, "mix-v1"),
        "hash_buckets": _duck_hash_buckets(16, "shard-v1"),
        "range_join_events": """
            WITH w AS (SELECT event_id AS wid,
                              epoch_us(ts) AS ws,
                              epoch_us(ts) + 7200000000 AS we
                       FROM events WHERE event_id % 20 = 0)
            SELECT e.event_id, w.wid
            FROM events e JOIN w ON epoch_us(e.ts) BETWEEN w.ws AND w.we
        """,
        # gaps-and-islands mirror of session_window: sessions that TOUCH
        # merge (measured: an event at exactly last_ts + gap joins the
        # session — tests/test_windows.py pins it), so a NEW session
        # starts only when the gap is STRICTLY greater than 5 minutes
        "event_sessions": """
            WITH e AS (SELECT user_id, ts,
                              CAST(round(value * 100) AS BIGINT) AS cents
                       FROM events),
            m AS (SELECT user_id, ts, cents,
                         CASE WHEN lag(ts) OVER w IS NULL
                                OR ts - lag(ts) OVER w
                                   > INTERVAL '5 minutes'
                              THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts, cents,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m)
            SELECT user_id AS user,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL '5 minutes' AS session_end,
                   count(*) AS n_events,
                   CAST(sum(cents) AS BIGINT) AS value_cents
            FROM s GROUP BY user_id, sid
        """,
        "image_meta": _duck_image_meta(),
        "pixel_stats": _duck_pixel_stats(),
        "winnow_fp": _duck_winnow_fp(),
        "audio_features": _duck_audio_features(),
    }


# Tokenizer pins (ADVICE: never rely on the fixture being single-spaced):
#  * Spark `split(trim(text), '\s+')` — Java \s is exactly [ \t\n\x0B\f\r]
#    and Spark's split KEEPS empty trailing/leading fields — mirrored with
#    regexp_split_to_array on the explicit class, no empty-filter.
#  * Python `str.split()` (simhash UDF) DROPS empty fields — mirrored with
#    the same class plus list_filter(t != '').
_DUCK_WS = "[ \t\n\x0b\f\r]+"


def _duck_spark_tokens(expr: str) -> str:
    """DuckDB mirror of Spark split(trim(expr), '\\s+') (keeps empties)."""
    return f"regexp_split_to_array(trim({expr}), '{_DUCK_WS}')"


def _duck_py_tokens(expr: str) -> str:
    """DuckDB mirror of Python str.split() (drops empties)."""
    return (
        f"list_filter(regexp_split_to_array(trim(coalesce({expr}, '')), "
        f"'{_DUCK_WS}'), t -> t != '')"
    )


def _duck_mmr_topk(
    k: int = 5, depth: int = 20, ln: int = 7, ld: int = 10
) -> str:
    """Mirror of _q_mmr_topk: quantized candidates, then k greedy
    rounds as chained MATERIALIZED CTEs (each round's remaining-set is
    referenced by BOTH the next pick and the next remaining-set —
    inlining would double the plan per round, the r5 bpe lesson)."""

    def dot(a: str, b: str) -> str:
        return (
            f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
            f"i -> {a}[i] * {b}[i])) AS BIGINT)"
        )

    vq = (
        "list_transform(embedding, "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    pen = ld - ln
    ctes = [
        f"""q AS (SELECT {vq} AS vq FROM embeddings WHERE vec_id = 0)""",
        f"""cands AS MATERIALIZED (
              SELECT e.vec_id AS key, {vq.replace('embedding', 'e.embedding')} AS vq,
                     {dot(vq.replace('embedding', 'e.embedding'), 'q.vq')} AS rel
              FROM embeddings e, q
              ORDER BY rel DESC, key LIMIT {depth})""",
        f"""s1 AS MATERIALIZED (
              SELECT key, vq, rel, CAST(0 AS BIGINT) AS ms
              FROM cands ORDER BY rel DESC, key LIMIT 1)""",
    ]
    for r in range(2, k + 1):
        prev_m, prev_s = f"m{r - 1}", f"s{r - 1}"
        src = "cands" if r == 2 else f"m{r - 2}"
        sim = dot("c.vq", "s.vq")
        ms = sim if r == 2 else f"greatest(c.ms, {sim})"
        ctes.append(
            f"""{prev_m} AS MATERIALIZED (
              SELECT c.key, c.vq, c.rel, {ms} AS ms
              FROM {src} c, {prev_s} s WHERE c.key <> s.key)"""
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
              SELECT key, vq, rel, ms FROM {prev_m}
              ORDER BY ({ln} * rel - {pen} * ms) DESC, key LIMIT 1)"""
        )
    finals = [
        f"""SELECT CAST({r} AS BIGINT) AS rank, key,
                   CAST(rel AS BIGINT) AS rel,
                   CAST({ln} * rel - {pen} * ms AS BIGINT) AS mmr_q
            FROM s{r}"""
        for r in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


def _duck_cms_estimates(tokens, width: int, depth: int) -> str:
    """Mirror of _q_cms_estimates via the module's own cell fragment:
    per-row build unions + the identical probe/min."""
    from jarvis_ocr_service_spark.functions.sketch import cms_cell_duck_sql

    build = "\n            UNION ALL ".join(
        f"SELECT {r} AS row, {cms_cell_duck_sql('token', r, width)} AS bucket"
        " FROM tok"
        for r in range(depth)
    )
    vals = ", ".join(f"('{t}')" for t in tokens)
    probe_bucket = "CASE p.row " + " ".join(
        f"WHEN {r} THEN {cms_cell_duck_sql('p.token', r, width)}"
        for r in range(depth)
    ) + " END"
    return f"""
        WITH tok AS MATERIALIZED (
            SELECT unnest({_duck_py_tokens("lower(text)")}) AS token
            FROM documents),
        cells AS ({build}),
        sk AS (SELECT row, bucket, count(*) AS n
               FROM cells GROUP BY row, bucket),
        p AS (SELECT t.token, r.row
              FROM (VALUES {vals}) t(token)
              CROSS JOIN (SELECT unnest(generate_series(0, {depth - 1}))
                              AS row) r),
        j AS (SELECT p.token, p.row, coalesce(sk.n, 0) AS n
              FROM (SELECT token, row, {probe_bucket} AS bucket FROM p) p
              LEFT JOIN sk USING (row, bucket))
        SELECT token, CAST(min(n) AS BIGINT) AS est
        FROM j GROUP BY token
    """


def _duck_dedup_canonical() -> str:
    """Mirror of _q_dedup_canonical: identical mangled-twin union, then
    the module's own canonical chain; group on the canonical form."""
    from jarvis_ocr_service_spark.functions.canonical import (
        canonical_text_duck_sql,
    )

    canon = canonical_text_duck_sql("text")
    return f"""
        WITH u AS (SELECT doc_id, text FROM documents
                   UNION ALL
                   SELECT doc_id + 100000, upper(text) || ' !!!'
                   FROM documents),
        c AS (SELECT doc_id, {canon} AS cf FROM u)
        SELECT CAST(min(doc_id) AS BIGINT) AS key,
               CAST(min(length(cf)) AS BIGINT) AS canon_len,
               CAST(count(*) AS BIGINT) AS n_variants
        FROM c GROUP BY cf
    """


def _duck_script_ratios() -> str:
    from jarvis_ocr_service_spark.functions.canonical import (
        script_ratios_duck_sql,
    )

    return script_ratios_duck_sql("documents", "doc_id")


def _duck_upsample_epochs(epochs: float) -> str:
    """Mirror of _q_upsample_epochs via the sampling module's own
    n_copies fragment (identical threshold literal + hash family)."""
    from jarvis_ocr_service_spark.functions.sampling import (
        upsample_epochs_duck_sql,
    )

    nc = upsample_epochs_duck_sql(epochs, "doc_id", "epochs")
    return f"""
        WITH c AS (SELECT doc_id, n_chars, {nc} AS nc FROM documents)
        SELECT doc_id AS key, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(unnest(generate_series(0, nc - 1)) AS BIGINT) AS epoch
        FROM c WHERE nc > 0
    """


def _duck_flog2(expr: str) -> str:
    """DuckDB mirror of report.size_bucket_col: floor(log2(max(n,1)))
    via the minimal-binary-string length — exact integers."""
    return (
        f"CAST(length(to_base(greatest(CAST({expr} AS BIGINT), 1), 2)) - 1"
        " AS BIGINT)"
    )


def _duck_simhash_pairs(max_hamming: int, key_filter: str) -> str:
    """DuckDB mirror of functions/dedup.simhash64_one + all-pairs Hamming:
    per token, bit i of the signature comes from hex digit i//4 of md5(tok)
    (nibble bit 3-i%4 — i.e. bytes unpacked MSB-first, matching
    np.unpackbits); signature bit i is set iff the majority of tokens set
    it. Bit 63 is the sign bit of the int64 mapping."""
    hexd = "0123456789abcdef"
    terms = []
    for i in range(64):
        p = i // 4 + 1
        shift = 3 - (i % 4)
        ones = (
            f"len(list_filter(hx, x -> ((strpos('{hexd}', substr(x, {p}, 1))"
            f" - 1) >> {shift}) & 1 = 1))"
        )
        if i < 63:
            terms.append(
                f"(CASE WHEN 2*{ones} > n THEN CAST({1 << i} AS BIGINT)"
                " ELSE 0 END)"
            )
        else:
            terms.append(
                f"(CASE WHEN 2*{ones} > n THEN CAST(-9223372036854775807"
                " AS BIGINT) - 1 ELSE 0 END)"
            )
    sig_expr = " + ".join(terms)
    return f"""
        WITH d AS (
          SELECT doc_id, {_duck_py_tokens('text')} AS toks
          FROM documents WHERE {key_filter}),
        h AS (SELECT doc_id, len(toks) AS n,
                     list_transform(toks, t -> md5(t)) AS hx
              FROM d),
        s AS (SELECT doc_id, CASE WHEN n = 0 THEN 0 ELSE {sig_expr} END AS sig
              FROM h)
        SELECT a.doc_id AS key_a, b.doc_id AS key_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


def _duck_audio_features() -> str:
    """VALUES oracle: expected audio features precomputed in pure Python
    from the same deterministic WAV fixture (repr round-trips doubles
    exactly).

    Independence scope (honest): the expected values come from the same
    decode_wav_features the Spark UDF calls, so this row proves the
    distributed path (Arrow batching, null handling, schema) reproduces
    the pure decoder exactly — decode *correctness* is pinned separately
    by tests/test_multimodal.py against stdlib-wave ground truth."""
    from jarvis_ocr_service_spark.functions.multimodal import (
        decode_wav_features,
        make_test_wav,
    )

    rows = []
    for i in range(50):
        f = decode_wav_features(make_test_wav(*_wav_params(i)))
        # NB: CAST('<repr>' AS DOUBLE): a bare decimal literal would be
        # parsed as DECIMAL(18) first and lose ULPs; string->double parses
        # to the exact nearest double (repr round-trips)
        rows.append(
            f"({i}, {f['sample_rate']}, {f['channels']}, {f['bits']}, "
            f"{f['n_frames']}, CAST('{f['duration_s']!r}' AS DOUBLE), "
            f"CAST('{f['rms']!r}' AS DOUBLE))"
        )
    values = ",\n               ".join(rows)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(sample_rate AS BIGINT) AS sample_rate,
               CAST(channels AS BIGINT) AS channels,
               CAST(bits AS BIGINT) AS bits,
               CAST(n_frames AS BIGINT) AS n_frames,
               duration_s, rms
        FROM (VALUES {values})
             v(doc_id, sample_rate, channels, bits, n_frames, duration_s, rms)
    """


def _duck_winnow_fp(
    k: int = 8, w: int = 8, max_chars: int = 1024, key_filter: str = "1=1"
) -> str:
    """Mirror of with_winnow_fingerprints: per-window minima of md5'd
    character k-grams over a bounded prefix (min over hex strings —
    engine-portable)."""
    return f"""
        WITH b AS (SELECT doc_id, substr(coalesce(text, ''), 1, {max_chars}) AS t
                   FROM documents WHERE {key_filter}),
        g AS (SELECT doc_id, t, length(t) AS n,
                list_transform(
                  generate_series(1, greatest(length(t) - {k - 1}, 1)),
                  i -> md5(substr(t, i, {k}))) AS grams
              FROM b),
        f AS (SELECT doc_id,
                CASE WHEN n < {k} THEN [md5(t)]
                     WHEN len(grams) - {w - 1} < 1 THEN [list_aggr(grams, 'min')]
                     ELSE list_distinct(list_transform(
                            generate_series(1, len(grams) - {w - 1}),
                            j -> list_aggr(grams[j:j+{w - 1}], 'min')))
                END AS fps
              FROM g)
        SELECT doc_id, unnest(fps) AS fp FROM f
    """


def _duck_winnow_pairs(min_shared: int = 12, key_filter: str = "doc_id < 200") -> str:
    """Mirror of dedup.winnow_near_pairs: self-join of the winnow
    fingerprint stream on fp, count distinct shared fps per pair."""
    return f"""
        WITH wf AS ({_duck_winnow_fp(key_filter=key_filter)})
        SELECT a.doc_id AS key_a, b.doc_id AS key_b,
               count(*) AS shared_fp
        FROM wf a JOIN wf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= {min_shared}
    """


def _duck_tfidf_topk(query_terms, k: int = 10, scale: int = 1000000) -> str:
    """Mirror of lexsearch.tfidf_topk_quantized: all-integer scoring
    (idf_q = (scale * n_docs) // df — floor division both engines), so
    scores hash-match exactly; n_docs computed in-query (sf-agnostic)."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    toks = _duck_py_tokens("lower(text)")
    return f"""
        WITH ex AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
        idx AS (SELECT doc_id, term, count(*) AS tf
                FROM ex WHERE term IN ({terms}) GROUP BY 1, 2),
        idf AS (SELECT term,
                       CAST({scale} AS BIGINT)
                         * (SELECT count(*) FROM documents) // count(*)
                         AS idf_q
                FROM idx GROUP BY term),
        sc AS (SELECT idx.doc_id AS key,
                      CAST(sum(idx.tf * idf.idf_q) AS BIGINT) AS score
               FROM idx JOIN idf USING (term) GROUP BY 1)
        SELECT key, score FROM sc ORDER BY score DESC, key LIMIT {k}
    """


def _duck_bm25_topk(
    query_terms,
    k: int = 10,
    scale: int = 1000000,
    k1=(6, 5),
    b=(3, 4),
) -> str:
    """Mirror of lexsearch.bm25_topk_quantized — the exact documented
    integer recurrence (avgdl floor-quantized once per corpus; Robertson
    idf via the *2+1 trick; one floor division per (doc, term)), so
    scores hash-match to the last bit."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    toks = _duck_py_tokens("lower(text)")
    k1n, k1d = k1
    bn, bd = b
    return f"""
        WITH base AS (SELECT doc_id, {toks} AS toks FROM documents),
        params AS (SELECT count(*) AS n,
                          greatest(1, CAST(coalesce(sum(len(toks)), 0)
                                           AS BIGINT)
                                      // greatest(1, count(*))) AS avgdl
                   FROM base),
        ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
               FROM base),
        idx AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
                FROM ex WHERE term IN ({terms}) GROUP BY 1, 2),
        idf AS (SELECT term,
                       (CAST({scale} AS BIGINT)
                        * (2 * ((SELECT n FROM params) - count(*)) + 1))
                         // (2 * count(*) + 1) AS idf_q
                FROM idx GROUP BY term),
        sc AS (SELECT idx.doc_id AS key,
                      CAST(sum(
                        (idf.idf_q * (idx.tf * {(k1n + k1d) * bd} * p.avgdl))
                        // (idx.tf * {k1d * bd} * p.avgdl
                            + {k1n} * ({bd - bn} * p.avgdl
                                       + {bn} * idx.dl))
                      ) AS BIGINT) AS score
               FROM idx JOIN idf USING (term) CROSS JOIN params p
               GROUP BY 1)
        SELECT key, score FROM sc ORDER BY score DESC, key LIMIT {k}
    """


def _duck_hybrid_topk(
    query_terms,
    depth: int = 50,
    k: int = 10,
    k_const: int = 60,
    scale: int = 10**9,
) -> str:
    """Mirror of fusion.hybrid_topk: the bm25 and quantized-dot mirrors
    as derived tables, re-ranked by the identical (score desc, key)
    total order, fused with the identical integer contribution
    scale // (k_const + rank) — the whole composition value-exact."""
    bm_sql = _duck_bm25_topk(query_terms, depth)
    ann_sql = f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id,
                 CAST(list_sum(list_transform(
                   generate_series(1, len(e.embedding)),
                   i -> CAST(round(CAST(e.embedding[i] AS DOUBLE)*1000) AS BIGINT)
                      * CAST(round(CAST(q.qe[i] AS DOUBLE)*1000) AS BIGINT)))
                   AS BIGINT) AS dot_q
          FROM embeddings e, q)
        SELECT vec_id, dot_q FROM scored ORDER BY dot_q DESC, vec_id LIMIT {depth}
    """
    return f"""
        WITH bm AS (SELECT key,
                           row_number() OVER (ORDER BY score DESC, key)
                               AS rank
                    FROM ({bm_sql})),
        ann AS (SELECT vec_id AS key,
                       row_number() OVER (ORDER BY dot_q DESC, vec_id)
                           AS rank
                FROM ({ann_sql})),
        u AS (SELECT key, CAST({scale} AS BIGINT) // ({k_const} + rank)
                              AS c
              FROM bm
              UNION ALL
              SELECT key, CAST({scale} AS BIGINT) // ({k_const} + rank)
                              AS c
              FROM ann)
        SELECT key, CAST(sum(c) AS BIGINT) AS rrf_q,
               CAST(count(*) AS BIGINT) AS n_systems
        FROM u GROUP BY key
        ORDER BY rrf_q DESC, key LIMIT {k}
    """


def _duck_pii_scrub() -> str:
    """Mirror of _q_pii_scrub: identical synthetic-PII construction,
    then functions/pii.py's OWN DuckDB rule-chain mirror (the module
    ships it urls.py-style, so the chains cannot drift)."""
    from jarvis_ocr_service_spark.functions.pii import (
        pii_count_duck_sql,
        redact_pii_duck_sql,
    )

    counts = pii_count_duck_sql("text")
    return f"""
        WITH enriched AS (
          SELECT doc_id,
                 substr(text, 1, 80)
                 || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com'
                 || CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567'
                         ELSE '' END
                 || CASE WHEN doc_id % 4 = 0 THEN ' ip 10.0.0.1'
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789'
                         ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               {counts['email']} AS n_email,
               {counts['ssn']} AS n_ssn,
               {counts['phone']} AS n_phone,
               {counts['ip']} AS n_ip,
               ({counts['email']} + {counts['ssn']}
                + {counts['phone']} + {counts['ip']}) > 0 AS has_pii,
               {redact_pii_duck_sql('text')} AS text_redacted
        FROM enriched
    """


def _duck_contamination(n: int = 13, bench_mod: int = 50) -> str:
    """Mirror of _q_contamination: distinct lowercased py-token n-grams,
    benchmark = doc_id % bench_mod == 0 rows, count of DISTINCT shared
    grams per doc, every doc reported (clean rows n_hits=0)."""
    toks = _duck_py_tokens("lower(text)")
    return f"""
        WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(tk) < {n} THEN []::VARCHAR[]
                          ELSE list_distinct(list_transform(
                                 generate_series(1, len(tk) - {n - 1}),
                                 i -> array_to_string(tk[i:i+{n - 1}], ' ')))
                     END AS grams
              FROM t),
        bench AS (SELECT DISTINCT unnest(grams) AS bg FROM g
                  WHERE doc_id % {bench_mod} = 0),
        ex AS (SELECT doc_id, unnest(grams) AS gr FROM g),
        hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
                 FROM ex WHERE gr IN (SELECT bg FROM bench)
                 GROUP BY 1)
        SELECT d.doc_id AS key,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               coalesce(h.n_hits, 0) >= 1 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """


def _duck_cross_corpus_dups(threshold: float = 0.5) -> str:
    """All-pairs exact-Jaccard mirror of _q_cross_corpus_dups (the LSH
    side's banding at r=1 has recall 1-3e-9 above the threshold, and
    verification is exact Jaccard over distinct k=4 shingles of the
    first 100 tokens — identical set semantics here)."""
    toks = _duck_spark_tokens("text")
    shingle = """
        CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')]
             ELSE list_distinct(list_transform(
                    generate_series(1, len(tk) - 3),
                    i -> array_to_string(tk[i:i+3], ' ')))
        END
    """
    return f"""
        WITH base AS (
          SELECT doc_id, ({toks})[1:100] AS tk FROM documents
          WHERE doc_id < 80),
        twins AS (
          SELECT doc_id,
                 (({toks})[1:greatest(1,
                     CAST(floor(len({toks}) * 3 / 4.0) AS INT))])[1:100]
                   AS tk
          FROM documents WHERE doc_id < 40),
        sb AS (SELECT doc_id, {shingle} AS sh FROM base),
        st AS (SELECT doc_id, {shingle} AS sh FROM twins),
        px AS (SELECT st.doc_id AS left_key, sb.doc_id AS right_key,
                      len(list_intersect(st.sh, sb.sh)) AS inter,
                      len(st.sh) AS na, len(sb.sh) AS nb
               FROM st CROSS JOIN sb)
        SELECT left_key, right_key,
               CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        FROM px
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {threshold}e0
    """


def _duck_size_histogram() -> str:
    """Mirror of report.size_histogram via the module's own bucket
    mirror (size_bucket_duck_sql) — exact integer log2 buckets."""
    from jarvis_ocr_service_spark.functions.report import (
        size_bucket_duck_sql,
    )

    b = size_bucket_duck_sql("n_chars")
    return f"""
        SELECT lang AS grp, {b} AS size_bucket,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    """


def _duck_bpe_chain(k: int) -> str:
    """Shared chained-CTE prefix mirroring vocab.bpe_merges (the
    pagerank k-round pattern): s{r} holds every document as ONE string
    of chr(31)-prefixed space-terminated symbols (doc_id carried);
    p{r} counts adjacent symbol pairs (split on space, list_zip of the
    array with its own tail); m{r} picks the deterministic argmax;
    s{r+1} applies the merge with the SAME literal replace (leftmost
    non-overlapping in both engines). chr(1) joins merged halves;
    chr(31) prefixes are stripped only in final projections.

    Every CTE is MATERIALIZED: each round references its predecessor
    several times (pair count + 3 scalar subqueries in the replace), so
    default CTE inlining would expand ~4^k copies of the document scan
    — materialization keeps the chain linear."""
    toks = _duck_py_tokens("lower(text)")
    parts = [
        f"""WITH s0 AS MATERIALIZED (
            SELECT doc_id,
                   chr(31) || array_to_string({toks}, ' ' || chr(31)) || ' '
                   AS seq
            FROM documents WHERE len({toks}) > 0
        )"""
    ]
    for r in range(k):
        parts.append(f"""
        p{r} AS MATERIALIZED (
            SELECT p[1] AS a, p[2] AS b, count(*) AS n FROM (
                SELECT unnest(list_zip(arr[1:len(arr) - 2],
                                       arr[2:len(arr) - 1])) AS p
                FROM (SELECT string_split(seq, ' ') AS arr FROM s{r}) t
            ) GROUP BY 1, 2
        ),
        m{r} AS MATERIALIZED (
            SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1
        ),
        s{r + 1} AS MATERIALIZED (
            -- coalesce guards an EMPTY m{r} (merges ran dry before
            -- round k): the scalar subqueries go NULL and a bare
            -- replace(seq, NULL, NULL) would NULL-poison every later
            -- round; chr(0) never occurs in seq, so the guarded
            -- replace is a no-op — matching Spark's early-stop
            SELECT doc_id,
                   replace(seq,
                           coalesce((SELECT a FROM m{r}) || ' ' ||
                                    (SELECT b FROM m{r}) || ' ', chr(0)),
                           coalesce((SELECT a FROM m{r}) || chr(1) ||
                                    substr((SELECT b FROM m{r}), 2) || ' ',
                                    chr(0))) AS seq
            FROM s{r}
        )""")
    return ",\n".join(parts)


def _duck_bpe_merges(k: int) -> str:
    """Mirror of vocab.bpe_merges — the k winning merges."""
    finals = [
        f"SELECT CAST({r} AS BIGINT) AS merge_round, substr(a, 2) AS tok_a,"
        f" substr(b, 2) AS tok_b, CAST(n AS BIGINT) AS n FROM m{r}"
        for r in range(k)
    ]
    return _duck_bpe_chain(k) + "\n" + "\nUNION ALL\n".join(finals)


def _duck_bpe_encode(k: int) -> str:
    """Mirror of bpe_merges(k) + bpe_encode applied to the same corpus:
    the final chain state s{k} IS the encoded corpus — strip the
    chr(31) markers, count symbols; token-less documents (filtered out
    of s0) re-enter as (0, '') via the left join, matching Spark."""
    return (
        _duck_bpe_chain(k)
        + f""",
        enc AS (
            SELECT doc_id,
                   rtrim(replace(seq, chr(31), '')) AS encoded
            FROM s{k}
        )
        SELECT d.doc_id AS key,
               CAST(CASE WHEN e.encoded IS NULL OR e.encoded = '' THEN 0
                         ELSE len(string_split(e.encoded, ' ')) END
                    AS BIGINT) AS n_symbols,
               coalesce(e.encoded, '') AS encoded
        FROM documents d LEFT JOIN enc e USING (doc_id)
    """
    )


def _duck_bpe_char_chain(k: int) -> str:
    """Chained-CTE prefix mirroring vocab._bpe_char_chain (char-level
    BPE over the word-count table): w = exact word counts; s0 expands
    each word to chr(31)-prefixed space-terminated CHARACTER symbols
    with chr(2) end-of-word on the last char (regexp '(.)' with the
    'g' flag — byte-identical to Spark's expansion, prototype-pinned);
    p{r}/m{r}/s{r+1} are the word-level chain's pair-count / argmax /
    replace rounds, with count(*) -> sum(n) (word-frequency weighting)
    and the token carried through for the encode oracle's per-token
    join. Every CTE MATERIALIZED (the 4^k inlining trap)."""
    toks = _duck_py_tokens("lower(text)")
    parts = [
        f"""WITH w AS MATERIALIZED (
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest({toks}) AS token FROM documents)
            GROUP BY token
        ),
        s0 AS MATERIALIZED (
            SELECT token,
                   regexp_replace(
                       regexp_replace(token, '(.)', chr(31) || '\\1 ', 'g'),
                       ' $', chr(2) || ' ') AS seq,
                   n
            FROM w
        )"""
    ]
    for r in range(k):
        parts.append(f"""
        p{r} AS MATERIALIZED (
            SELECT p[1] AS a, p[2] AS b, CAST(sum(n) AS BIGINT) AS n FROM (
                SELECT unnest(list_zip(arr[1:len(arr) - 2],
                                       arr[2:len(arr) - 1])) AS p, n
                FROM (SELECT string_split(seq, ' ') AS arr, n FROM s{r}) t
            ) GROUP BY 1, 2
        ),
        m{r} AS MATERIALIZED (
            SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1
        ),
        s{r + 1} AS MATERIALIZED (
            SELECT token,
                   replace(seq,
                           coalesce((SELECT a FROM m{r}) || ' ' ||
                                    (SELECT b FROM m{r}) || ' ', chr(0)),
                           coalesce((SELECT a FROM m{r}) || chr(1) ||
                                    substr((SELECT b FROM m{r}), 2) || ' ',
                                    chr(0))) AS seq,
                   n
            FROM s{r}
        )""")
    return ",\n".join(parts)


def _duck_bpe_merges_char(k: int) -> str:
    """Mirror of vocab.bpe_merges_char — the k winning weighted merges."""
    finals = [
        f"SELECT CAST({r} AS BIGINT) AS merge_round, substr(a, 2) AS sym_a,"
        f" substr(b, 2) AS sym_b, CAST(n AS BIGINT) AS n FROM m{r}"
        for r in range(k)
    ]
    return _duck_bpe_char_chain(k) + "\n" + "\nUNION ALL\n".join(finals)


def _duck_bpe_vocab(k: int) -> str:
    """Mirror of vocab.bpe_vocab: split the chain's final word states,
    strip chr(31) prefixes, weight by word count."""
    return _duck_bpe_char_chain(k) + f""",
        v AS (
            SELECT unnest(arr[1:len(arr) - 1]) AS s, n
            FROM (SELECT string_split(seq, ' ') AS arr, n FROM s{k}) t
        )
        SELECT substr(s, 2) AS symbol, CAST(sum(n) AS BIGINT) AS n
        FROM v GROUP BY 1
    """


def _duck_bpe_encode_char(k: int) -> str:
    """Mirror of bpe_merges_char(k) + bpe_encode_char — by a DIFFERENT
    route than Spark's whole-document global replace: each document's
    tokens join the trained word table's final symbol state and rejoin
    in document order (parallel unnest + string_agg ORDER BY pos).
    Merges never cross word boundaries, so the two derivations must
    agree; token-less documents re-enter as (0, '') via the left
    join."""
    toks = _duck_py_tokens("lower(text)")
    return _duck_bpe_char_chain(k) + f""",
        tok AS (
            SELECT doc_id, unnest({toks}) AS token,
                   unnest(generate_series(1, len({toks}))) AS pos
            FROM documents
        ),
        enc AS (
            SELECT t.doc_id,
                   string_agg(rtrim(replace(s.seq, chr(31), '')), ' '
                              ORDER BY t.pos) AS encoded
            FROM tok t JOIN s{k} s USING (token)
            GROUP BY t.doc_id
        )
        SELECT d.doc_id AS key,
               CAST(CASE WHEN e.encoded IS NULL OR e.encoded = '' THEN 0
                         ELSE len(string_split(e.encoded, ' ')) END
                    AS BIGINT) AS n_symbols,
               coalesce(e.encoded, '') AS encoded
        FROM documents d LEFT JOIN enc e USING (doc_id)
    """


def _duck_bpe_encode_ids(k: int) -> str:
    """Mirror of the full tokenizer chain: merges -> frequency-ranked
    vocab ids (row_number over (n DESC, symbol), 0-based) -> per-token
    encode -> per-symbol id lookup, rejoined in document order."""
    toks = _duck_py_tokens("lower(text)")
    return _duck_bpe_char_chain(k) + f""",
        v AS MATERIALIZED (
            SELECT substr(s, 2) AS symbol,
                   CAST(sum(n) AS BIGINT) AS n
            FROM (
                SELECT unnest(arr[1:len(arr) - 1]) AS s, n
                FROM (SELECT string_split(seq, ' ') AS arr, n FROM s{k}) t
            ) GROUP BY 1
        ),
        vid AS MATERIALIZED (
            SELECT symbol,
                   row_number() OVER (ORDER BY n DESC, symbol) - 1 AS id
            FROM v
        ),
        tok AS (
            SELECT doc_id, unnest({toks}) AS token,
                   unnest(generate_series(1, len({toks}))) AS pos
            FROM documents
        ),
        enc AS (
            SELECT t.doc_id, t.pos,
                   rtrim(replace(s.seq, chr(31), '')) AS wenc
            FROM tok t JOIN s{k} s USING (token)
        ),
        sym AS (
            SELECT doc_id, pos,
                   unnest(string_split(wenc, ' ')) AS s,
                   unnest(generate_series(1, len(string_split(wenc, ' '))))
                       AS spos
            FROM enc
        ),
        ids AS (
            SELECT sym.doc_id,
                   CAST(count(*) AS BIGINT) AS n_symbols,
                   string_agg(CAST(vid.id AS VARCHAR), ' '
                              ORDER BY sym.pos, sym.spos) AS ids
            FROM sym JOIN vid ON vid.symbol = sym.s
            GROUP BY sym.doc_id
        )
        SELECT d.doc_id AS key,
               coalesce(i.n_symbols, 0) AS n_symbols,
               coalesce(i.ids, '') AS ids
        FROM documents d LEFT JOIN ids i USING (doc_id)
    """


def _duck_top_tokens(k: int) -> str:
    """Mirror of vocab.top_tokens: exact counts, (n DESC, token) order."""
    toks = _duck_py_tokens("lower(text)")
    return f"""
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({toks}) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT {k}
    """


def _duck_token_pairs(min_count: int) -> str:
    """Mirror of vocab.token_pair_counts: adjacent pairs via list_zip of
    the token list with its own tail (unnamed struct -> numeric index)."""
    toks = _duck_py_tokens("lower(text)")
    return f"""
        WITH t AS (SELECT {toks} AS l FROM documents),
        ex AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
               FROM t)
        SELECT p[1] AS tok_a, p[2] AS tok_b,
               CAST(count(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2 HAVING count(*) >= {min_count}
    """


def _duck_shuffle_order(salt: str) -> str:
    """Mirror of sampling.shuffle_order: THE naive global window the
    two-phase implementation avoids, over the module's own hash mirror."""
    from jarvis_ocr_service_spark.functions.sampling import shifted_hash_duck_sql

    h = shifted_hash_duck_sql("doc_id", salt)
    return f"""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY ({h}), doc_id) - 1
                    AS BIGINT) AS pos
        FROM documents
    """


def _duck_mix_corpora(rates: dict, salt: str) -> str:
    """Mirror of sampling.mix_corpora over the doc_id%3 pseudo-sources:
    per-source salted threshold filters, rate>=1.0 keeps everything."""
    from jarvis_ocr_service_spark.functions.sampling import (
        _threshold_signed,
        shifted_hash_duck_sql,
    )

    mods = {"web": 0, "code": 1, "books": 2}
    parts = []
    for name in sorted(rates):
        h = shifted_hash_duck_sql("doc_id", f"{salt}#{name}")
        cond = f"doc_id % 3 = {mods[name]}"
        if rates[name] < 1.0:
            cond += f" AND ({h}) < {_threshold_signed(rates[name])}"
        parts.append(
            f"SELECT doc_id, '{name}' AS source FROM documents WHERE {cond}"
        )
    return "\nUNION ALL\n".join(parts)


def _duck_hash_sample(rate: float, salt: str) -> str:
    """Mirror of sampling.hash_sample via the module's own DuckDB hash
    mirror (shifted_hash_duck_sql) + the identical threshold."""
    from jarvis_ocr_service_spark.functions.sampling import (
        _threshold_signed,
        shifted_hash_duck_sql,
    )

    h = shifted_hash_duck_sql("doc_id", salt)
    return f"""
        SELECT doc_id FROM documents
        WHERE ({h}) < {_threshold_signed(rate)}
    """


def _duck_hash_split(weights: dict, salt: str) -> str:
    """Mirror of sampling.hash_split: same sorted-label interval chain,
    same thresholds."""
    from jarvis_ocr_service_spark.functions.sampling import (
        _threshold_signed,
        shifted_hash_duck_sql,
    )

    h = shifted_hash_duck_sql("doc_id", salt)
    labels = sorted(weights)
    acc = 0.0
    whens = []
    for lab in labels[:-1]:
        acc += weights[lab]
        whens.append(f"WHEN ({h}) < {_threshold_signed(acc)} THEN '{lab}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{labels[-1]}' END"
    return f"SELECT doc_id, {case} AS split FROM documents"


def _duck_stratified_sample(quota: int, salt: str) -> str:
    """Mirror of sampling.stratified_take: row_number per stratum over
    (shifted hash, key)."""
    from jarvis_ocr_service_spark.functions.sampling import (
        shifted_hash_duck_sql,
    )

    h = shifted_hash_duck_sql("doc_id", salt)
    return f"""
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY ({h}), doc_id) AS rn
          FROM documents)
        WHERE rn <= {quota}
    """


def _duck_hash_buckets(n: int, salt: str) -> str:
    """Mirror of sampling.hash_bucket (pmod: DuckDB % keeps the
    dividend's sign, so wrap to non-negative)."""
    from jarvis_ocr_service_spark.functions.sampling import (
        shifted_hash_duck_sql,
    )

    h = shifted_hash_duck_sql("doc_id", salt)
    return f"""
        SELECT doc_id,
               CAST(((({h}) % {n}) + {n}) % {n} AS BIGINT) AS bucket
        FROM documents
    """


def _duck_image_phash(n: int = 60) -> str:
    """VALUES oracle: expected pHashes precomputed with the shared pure
    function over the same deterministic payloads.

    Independence scope (honest): same pattern as _duck_pixel_stats —
    this row proves the distributed Arrow path (incl. the nullable-Int64
    batch column) reproduces the pure all-integer implementation
    bit-for-bit; algorithm determinism itself is pinned separately by
    tests/test_imagehash.py (process-to-process identity, luma/perturb/
    brute-force properties)."""
    from jarvis_ocr_service_spark.functions.imagehash import phash64

    rows = []
    for i in range(n):
        h = phash64(_phash_fixture_png(i))
        rows.append(
            f"({i}, {h if h is not None else 'CAST(NULL AS BIGINT)'})"
        )
    values = ",\n               ".join(rows)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(phash AS BIGINT) AS phash
        FROM (VALUES {values}) v(doc_id, phash)
    """


def _duck_bucket_dedup(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.7
) -> str:
    """Full-algorithm mirror of _q_bucket_dedup. DuckDB's
    md5_number_upper/md5_number_lower are exactly the little-endian
    uint64 halves the signature UDF reads from the raw digest
    (upper = bytes 0-7 = h1, lower = bytes 8-15 = h2 — verified), so
    sig_i = min(h1 + i*h2 mod 2^64) reproduces the numpy double-hashing
    family bit-for-bit (HUGEINT arithmetic; equality comparisons are
    sign-agnostic so the UDF's int64 reinterpretation is immaterial).
    Band buckets group on the raw signature slice where Spark groups on
    xxhash64(slice) — identical modulo a ~2^-64 xxhash collision."""
    rows_per_band = num_hashes // bands
    toks = _duck_py_tokens("text")
    mod = "18446744073709551616"
    sig_cols = ",\n                   ".join(
        f"min((CAST(h1 AS HUGEINT) + {i} * CAST(h2 AS HUGEINT)) % {mod}) AS s{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n          UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cs} FROM sig".format(
            b=b,
            cs=", ".join(
                f"s{b * rows_per_band + j} AS c{j}"
                for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    ckeys = ", ".join(f"c{j}" for j in range(rows_per_band))
    eq_sum = " + ".join(
        f"CAST(sa.s{i} = sb.s{i} AS INT)" for i in range(num_hashes)
    )
    return f"""
        WITH RECURSIVE base AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 80),
        corpus AS (
          SELECT doc_id, text FROM base
          UNION ALL SELECT doc_id + 100000, text FROM base),
        t AS (SELECT doc_id, ({toks})[1:500] AS toks FROM corpus),
        s AS (SELECT doc_id,
                CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                     ELSE list_distinct(list_transform(
                            generate_series(1, len(toks)-2),
                            i -> array_to_string(toks[i:i+2], ' ')))
                END AS sh
              FROM t),
        ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
        hs AS (SELECT doc_id, md5_number_upper(g) AS h1,
                      md5_number_lower(g) AS h2 FROM ex),
        sig AS (SELECT doc_id,
                   {sig_cols}
                FROM hs GROUP BY doc_id),
        banded AS (
          {band_selects}),
        reps AS (
          SELECT band, {ckeys}, min(doc_id) AS rep
          FROM banded GROUP BY band, {ckeys} HAVING count(*) >= 2),
        cand AS (
          SELECT DISTINCT r.rep AS key_a, b.doc_id AS key_b
          FROM banded b JOIN reps r USING (band, {ckeys})
          WHERE b.doc_id != r.rep),
        verified AS (
          SELECT key_a, key_b
          FROM cand
          JOIN sig sa ON sa.doc_id = key_a
          JOIN sig sb ON sb.doc_id = key_b
          WHERE CAST({eq_sum} AS DOUBLE) / {num_hashes} >= {threshold}),
        edges AS (
          SELECT key_a AS a, key_b AS b FROM verified
          UNION ALL SELECT key_b, key_a FROM verified),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach AS (
          SELECT node, node AS root FROM nodes
          UNION
          SELECT e.b AS node, r.root
          FROM reach r JOIN edges e ON e.a = r.node
        )
        SELECT node AS key, min(root) AS cluster FROM reach GROUP BY node
    """


def _duck_dedup_clusters() -> str:
    """Mirror of _q_dedup_clusters: same chained-twin corpus and pair SQL
    (exact n-gram Jaccard, so blocking parity is free), then connected
    components as a recursive CTE (min reachable key per node)."""
    toks = _duck_spark_tokens("text")
    keep = "greatest(1, CAST(floor(len(toks)*3/4.0) AS INT))"
    return f"""
        WITH RECURSIVE base AS (
          SELECT doc_id, {toks} AS toks
          FROM documents WHERE doc_id < 60),
        t1 AS (
          SELECT doc_id + 100000 AS doc_id,
                 toks[1:{keep}] AS toks
          FROM base),
        t2 AS (
          SELECT doc_id + 100000 AS doc_id,
                 toks[1:{keep}] AS toks
          FROM t1),
        corpus AS (
          SELECT doc_id, toks[1:500] AS toks FROM base
          UNION ALL SELECT doc_id, toks[1:500] FROM t1
          UNION ALL SELECT doc_id, toks[1:500] FROM t2),
        s AS (SELECT doc_id,
                CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
                     ELSE list_distinct(list_transform(
                            generate_series(1, len(toks)-3),
                            i -> array_to_string(toks[i:i+3], ' ')))
                END AS sh
              FROM corpus),
        sizes AS (SELECT doc_id, len(sh) AS n FROM s),
        ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
        common AS (
          SELECT a.doc_id AS key_a, b.doc_id AS key_b,
                 CAST(count(*) AS BIGINT) AS inter
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT key_a, key_b FROM common
          JOIN sizes na ON na.doc_id = key_a
          JOIN sizes nb ON nb.doc_id = key_b
          WHERE CAST(inter AS DOUBLE)/(na.n + nb.n - inter) >= 0.6e0),
        edges AS (
          SELECT key_a AS a, key_b AS b FROM pairs
          UNION ALL SELECT key_b, key_a FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach AS (
          SELECT node, node AS root FROM nodes
          UNION
          SELECT e.b AS node, r.root
          FROM reach r JOIN edges e ON e.a = r.node
        )
        SELECT node AS key, min(root) AS cluster FROM reach GROUP BY node
    """


def _duck_rolling_hash() -> str:
    """DuckDB mirror of functions/textstats.rolling_hash64: fold
    h = (h*257 + codepoint) mod 2^61-1 over the text's codepoints
    (HUGEINT accumulator — h*257 overflows BIGINT)."""
    return """
        SELECT doc_id, CASE WHEN coalesce(text, '') = '' THEN 0 ELSE
          CAST(list_reduce(
            list_prepend(CAST(0 AS HUGEINT),
              list_transform(regexp_split_to_array(text, ''),
                             c -> CAST(unicode(c) AS HUGEINT))),
            (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT)
        END AS rhash
        FROM documents
    """


def _duck_pixel_stats() -> str:
    """VALUES oracle: expected pixel stats precomputed in pure Python from
    the deterministic page fixture via the same from-scratch codec the
    pytest suite pins against hand-filtered reference encodings.

    Independence scope (honest): same pattern as _duck_audio_features —
    this row proves the distributed path matches the pure codec; codec
    *correctness* is pinned independently by tests/test_png_codec.py
    (hand-filtered reference encodings, all 5 scanline filters)."""
    from jarvis_ocr_service_spark.operators.png_codec import png_pixel_stats
    from jarvis_ocr_service_spark.sources.pages import make_page

    rows = []
    for i in range(200):
        p = make_page(i)
        try:
            w, h, ch, mean = png_pixel_stats(bytes(p["html"] or b""))
        except ValueError:
            continue
        # string->double cast: a bare decimal literal parses as DECIMAL(18)
        # first and can lose ULPs on 17-digit means
        rows.append(
            f"('{p['url']}', {w}, {h}, {ch}, CAST('{mean!r}' AS DOUBLE))"
        )
    values = ",\n               ".join(rows)
    return f"""
        SELECT url, CAST(px_width AS BIGINT) AS px_width,
               CAST(px_height AS BIGINT) AS px_height,
               CAST(channels AS BIGINT) AS channels,
               mean_intensity
        FROM (VALUES {values})
             v(url, px_width, px_height, channels, mean_intensity)
    """


def _duck_url_fixture() -> str:
    """SQL mirror of _url_fixture_col() (printf == format_string here)."""
    return """
        CASE doc_id % 8
          WHEN 0 THEN printf('HTTP://Site%d.Example.COM:80/Path/To/Doc%d', doc_id % 13, doc_id)
          WHEN 1 THEN printf('https://site%d.example.com:443/path/doc%d/', doc_id % 13, doc_id)
          WHEN 2 THEN printf('http://SITE%d.example.com/path/doc%d?utm_source=x&utm_medium=y', doc_id % 13, doc_id)
          WHEN 3 THEN printf('http://site%d.EXAMPLE.com/path/doc%d?a=1&utm_campaign=z&b=2', doc_id % 13, doc_id)
          WHEN 4 THEN printf('https://Site%d.example.com/Doc%d#frag-%d', doc_id % 13, doc_id, doc_id)
          WHEN 5 THEN printf('http://site%d.example.com/doc%d///', doc_id % 13, doc_id)
          WHEN 6 THEN printf('https://site%d.example.com/', doc_id % 13)
          ELSE printf('http://site%d.example.com/a/b%d?utm_a=1&utm_b=2&utm_c=3', doc_id % 13, doc_id)
        END
    """


def _duck_url_canonical() -> str:
    from jarvis_ocr_service_spark.functions.urls import canonical_url_duck_sql

    return f"""
        WITH raw AS (SELECT doc_id, {_duck_url_fixture()} AS raw_url
                     FROM documents)
        SELECT doc_id, raw_url,
               {canonical_url_duck_sql('raw_url')} AS curl
        FROM raw
    """


def _duck_repetition_stats() -> str:
    """Mirror of functions/repetition.repetition_stats_one over the
    repetition-planted rep_doc (top_grams=(2,), dup_grams=(5,)): every
    ratio is CAST(int AS DOUBLE)/int — bit-identical to Python int/int
    division."""
    strip = "' ' || chr(9) || chr(13) || chr(11) || chr(12)"
    return f"""
        WITH d AS (
          SELECT doc_id,
                 substring(coalesce(text,''), 1, 60) || chr(10) ||
                 substring(coalesce(text,''), 61, 60) || chr(10) ||
                 substring(coalesce(text,''), 1, 60) ||
                 repeat(' ' || substring(coalesce(text,''), 1, 25),
                        CAST(doc_id % 4 AS INT)) AS rep_doc
          FROM documents),
        l AS (SELECT doc_id,
                     list_filter(
                       list_transform(string_split(rep_doc, chr(10)),
                                      x -> trim(x, {strip})),
                       x -> x <> '') AS lines
              FROM d),
        lx AS (SELECT doc_id, unnest(lines) AS ln FROM l),
        lc AS (SELECT doc_id, ln, count(*) AS c FROM lx GROUP BY 1, 2),
        lagg AS (SELECT doc_id,
                        count(*) AS nd,
                        CAST(sum(c) AS BIGINT) AS nl,
                        CAST(sum(CASE WHEN c >= 2 THEN c * length(ln)
                                      ELSE 0 END) AS BIGINT) AS dupch,
                        CAST(sum(c * length(ln)) AS BIGINT) AS totch
                 FROM lc GROUP BY 1),
        tk AS (SELECT doc_id, {_duck_py_tokens('rep_doc')} AS toks,
                      greatest(1, length(rep_doc)) AS tlen
               FROM d),
        t2 AS (SELECT doc_id, toks, tlen, len(toks) AS nt FROM tk),
        g2 AS (SELECT doc_id,
                      unnest(CASE WHEN nt >= 2 THEN list_transform(
                               generate_series(1, nt - 1),
                               i -> toks[i] || ' ' || toks[i+1])
                             ELSE []::VARCHAR[] END) AS g
               FROM t2),
        g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        top2 AS (SELECT doc_id, c * length(g) AS num FROM (
                   SELECT doc_id, g, c,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY c DESC, g) AS rn
                   FROM g2c) WHERE rn = 1),
        g5 AS (SELECT doc_id,
                      unnest(CASE WHEN nt >= 5 THEN list_transform(
                               generate_series(1, nt - 4),
                               i -> array_to_string(toks[i:i+4], ' '))
                             ELSE []::VARCHAR[] END) AS g
               FROM t2),
        g5c AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
        d5 AS (SELECT doc_id,
                      CAST(sum(CASE WHEN c >= 2 THEN c * length(g)
                                    ELSE 0 END) AS BIGINT) AS dupg,
                      CAST(sum(c * length(g)) AS BIGINT) AS totg
               FROM g5c GROUP BY 1)
        SELECT d.doc_id,
               coalesce(CASE WHEN lagg.nl > 0
                 THEN CAST(lagg.nl - lagg.nd AS DOUBLE) / lagg.nl END,
                 0.0e0) AS dup_line_frac,
               coalesce(CASE WHEN lagg.totch > 0
                 THEN CAST(lagg.dupch AS DOUBLE) / lagg.totch END,
                 0.0e0) AS dup_line_char_frac,
               coalesce(CAST(top2.num AS DOUBLE) / t2.tlen, 0.0e0)
                 AS top2_char_frac,
               coalesce(CASE WHEN d5.totg > 0
                 THEN CAST(d5.dupg AS DOUBLE) / d5.totg END,
                 0.0e0) AS dup5_char_frac
        FROM d
        LEFT JOIN lagg USING (doc_id)
        LEFT JOIN t2 USING (doc_id)
        LEFT JOIN top2 USING (doc_id)
        LEFT JOIN d5 USING (doc_id)
    """


def _duck_pagerank(iters: int = 5, scale: int = 10**12) -> str:
    """Mirror of graph.pagerank_quantized: k chained CTE rounds of the
    identical integer arithmetic (// == Spark's div on non-negative
    BIGINTs) over the same closed-form edge fixture."""
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        cur = f"r{i}"
        rounds.append(f"""
        c{i} AS (SELECT e.dst AS node,
                        CAST(sum({prev}.rank // deg.deg) AS BIGINT) AS inc
                 FROM e JOIN deg USING (src)
                 JOIN {prev} ON {prev}.node = e.src
                 GROUP BY 1),
        {cur} AS (SELECT nodes.node,
                         CAST(base.b + (85 * coalesce(c{i}.inc, 0)) // 100
                              AS BIGINT) AS rank
                  FROM nodes CROSS JOIN base
                  LEFT JOIN c{i} ON c{i}.node = nodes.node)""")
        prev = cur
    chain = ",".join(rounds)
    return f"""
        WITH e AS (SELECT DISTINCT doc_id % 20 AS src, doc_id % 7 AS dst
                   FROM documents
                   WHERE doc_id % 20 != doc_id % 7),
        nodes AS (SELECT DISTINCT node FROM
                    (SELECT src AS node FROM e
                     UNION ALL SELECT dst FROM e)),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        p AS (SELECT CAST({scale} AS BIGINT) // count(*) AS init
              FROM nodes),
        base AS (SELECT (15 * init) // 100 AS b, init FROM p),
        r0 AS (SELECT node, CAST(base.init AS BIGINT) AS rank
               FROM nodes CROSS JOIN base),
        {chain}
        SELECT node, rank AS rank_q FROM {prev}
    """


def _duck_pagerank_dangling(iters: int = 5, scale: int = 10**12) -> str:
    """Mirror of graph.pagerank_quantized(dangling='renormalize'): each
    chained round adds the exact integer dangling share
    D // N = sum(rank of zero-outdegree nodes) // count(nodes) to every
    node's inbound mass before damping — identical floor arithmetic both
    engines, so an iterative algorithm WITH a per-round global scalar is
    still value-exact."""
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        cur = f"r{i}"
        rounds.append(f"""
        d{i} AS (SELECT CAST(coalesce(sum(rank), 0) AS BIGINT)
                        // (SELECT count(*) FROM nodes) AS share
                 FROM {prev}
                 WHERE node NOT IN (SELECT src FROM e)),
        c{i} AS (SELECT e.dst AS node,
                        CAST(sum({prev}.rank // deg.deg) AS BIGINT) AS inc
                 FROM e JOIN deg USING (src)
                 JOIN {prev} ON {prev}.node = e.src
                 GROUP BY 1),
        {cur} AS (SELECT nodes.node,
                         CAST(base.b
                              + (85 * (coalesce(c{i}.inc, 0)
                                       + (SELECT share FROM d{i}))) // 100
                              AS BIGINT) AS rank
                  FROM nodes CROSS JOIN base
                  LEFT JOIN c{i} ON c{i}.node = nodes.node)""")
        prev = cur
    chain = ",".join(rounds)
    return f"""
        WITH e AS (SELECT DISTINCT doc_id % 12 AS src,
                          12 + doc_id % 6 AS dst
                   FROM documents),
        nodes AS (SELECT DISTINCT node FROM
                    (SELECT src AS node FROM e
                     UNION ALL SELECT dst FROM e)),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        p AS (SELECT CAST({scale} AS BIGINT) // count(*) AS init
              FROM nodes),
        base AS (SELECT (15 * init) // 100 AS b, init FROM p),
        r0 AS (SELECT node, CAST(base.init AS BIGINT) AS rank
               FROM nodes CROSS JOIN base),
        {chain}
        SELECT node, rank AS rank_q FROM {prev}
    """


def _duck_page_outlinks() -> str:
    """Closed-form oracle from the page-construction spec: boilerplate
    pages (doc_id % 3 == 0) carry exactly /cat0../cat23 then /about,/tos
    in that document order; clean pages carry none. Derived from
    sources/pages.pages_from_documents' literal template — NOT from
    running any extractor, so this row is fully independent evidence."""
    expected = "|".join([f"/cat{k}" for k in range(24)] + ["/about", "/tos"])
    return f"""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 26 ELSE 0 END AS BIGINT)
                 AS n_links,
               CASE WHEN doc_id % 3 = 0 THEN '{expected}' ELSE '' END
                 AS links_str
        FROM documents
    """


def _duck_anchor_texts() -> str:
    """Closed-form oracle from the page-construction spec: boilerplate
    pages (doc_id % 3 == 0) carry exactly the 26 template anchors once
    each — 'Category k' for /cat0../cat23, 'About' for /about, 'Terms'
    for /tos; clean pages none. Independent of any extractor."""
    return """
        WITH b AS (SELECT CAST(count(*) AS BIGINT) AS n
                   FROM documents WHERE doc_id % 3 = 0),
        pairs AS (
          SELECT '/cat' || CAST(k AS VARCHAR) AS href,
                 'Category ' || CAST(k AS VARCHAR) AS anchor
          FROM (SELECT unnest(generate_series(0, 23)) AS k)
          UNION ALL SELECT '/about', 'About'
          UNION ALL SELECT '/tos', 'Terms')
        SELECT p.href, p.anchor, b.n
        FROM pairs p CROSS JOIN b WHERE b.n > 0
    """


def _duck_prepare_gate() -> str:
    """Composed mirror of _q_prepare_gate: extraction == normalize(text)
    on this fixture (the flagship round-trip), so the stats mirrors run
    over the normalized text and the gate predicate cuts identically
    (quality doubles are bit-identical — same pinned arithmetic)."""
    rel = (
        f"(SELECT doc_id, {_duck_normalize('text')} AS text FROM documents)"
    )
    return f"""
        WITH lang AS ({_duck_lang_id(rel)}),
        q AS ({_duck_quality_score(rel)}),
        tok AS (SELECT doc_id,
                       CAST(CASE WHEN trim(coalesce(text,'')) = '' THEN 0
                            ELSE len({_duck_spark_tokens('text')})
                            END AS BIGINT) AS n_tokens
                FROM {rel})
        SELECT tok.doc_id, tok.n_tokens, lang.lang_guess, q.quality
        FROM tok
        JOIN lang USING (doc_id)
        JOIN q USING (doc_id)
        WHERE tok.n_tokens >= 30 AND tok.n_tokens <= 100000
          AND q.quality >= 0.7e0
    """


def _duck_truncate_flags() -> str:
    """VALUES oracle for UTF-8-safe truncation: expected rows precomputed
    with the shared pure-Python cascade (sources/pages.expected_result).

    Independence note (honest scope): DuckDB cannot truncate UTF-8-byte-
    safely, so — like image_meta/pixel_stats — the expected VALUES come
    from the same shared pure-Python semantics the Spark UDFs call; the
    driver check therefore proves the *distributed execution path*
    (Arrow batching, partitioning, cascade fusion) reproduces the pure
    oracle byte-for-byte, while the truncation semantics themselves are
    pinned independently by hand-written unit + hypothesis tests
    (tests/test_textops.py) and the golden file."""
    import hashlib

    from jarvis_ocr_service_spark.sources.pages import expected_result

    rows = []
    for i in range(_TRUNC_PAGES_N):
        if i % 10 not in (6, 7):
            continue
        r = expected_result(i)
        md5 = hashlib.md5(r["text"].encode("utf-8")).hexdigest()
        rows.append(
            f"('{r['url']}', {str(bool(r['truncated'])).upper()}, "
            f"{r['text_len']}, {str(bool(r['is_valid'])).upper()}, '{md5}')"
        )
    values = ",\n               ".join(rows)
    return f"""
        SELECT url, truncated, CAST(text_len AS BIGINT) AS text_len,
               is_valid, text_md5
        FROM (VALUES {values})
             v(url, truncated, text_len, is_valid, text_md5)
    """


def _duck_pdf_extract() -> str:
    """VALUES oracle for the PDF parse branch: expected rows precomputed
    with the shared pure-Python cascade in pdf_mode='parse'. Same
    independence scope as _duck_truncate_flags — the PDF parser itself is
    pinned by tests/test_extract_pdf.py goldens; this row proves the
    distributed branch dispatch + extraction reproduces it exactly."""
    from jarvis_ocr_service_spark.sources.pages import expected_result

    rows = []
    for i in range(_PDF_PAGES_N):
        if i % 10 != 2:
            continue
        r = expected_result(i, pdf_mode="parse")
        text_sql = r["text"].replace("'", "''").replace("\n", "' || chr(10) || '")
        spans_str = "|".join(f"{s}:{e}:{t}" for s, e, t in r["spans"])
        rows.append(
            f"('{r['url']}', '{text_sql}', '{r['tier']}', "
            f"{str(bool(r['is_valid'])).upper()}, "
            f"{str(bool(r['truncated'])).upper()}, {r['text_len']}, "
            f"'{spans_str}')"
        )
    values = ",\n               ".join(rows)
    return f"""
        SELECT url, pdf_text, tier, is_valid, truncated,
               CAST(text_len AS BIGINT) AS text_len, spans_str
        FROM (VALUES {values})
             v(url, pdf_text, tier, is_valid, truncated, text_len, spans_str)
    """


def _duck_image_meta() -> str:
    """VALUES oracle: expected header-decode rows precomputed in pure
    Python from the deterministic page fixture (sources/pages.make_page is
    a pure function of (i, seed) — same rows on any machine).

    Independence scope (honest): same pattern as _duck_audio_features —
    proves the distributed path matches the pure header parser; parse
    correctness is pinned independently in tests/test_multimodal.py."""
    from jarvis_ocr_service_spark.functions.multimodal import _meta_of
    from jarvis_ocr_service_spark.sources.pages import make_page

    rows = []
    for i in range(200):
        p = make_page(i)
        m = _meta_of(p["html"])
        if m["format"] is not None:
            rows.append(
                f"('{p['url']}', '{m['format']}', {m['width']}, "
                f"{m['height']}, {m['n_bytes']})"
            )
    values = ",\n               ".join(rows)
    return f"""
        SELECT url, fmt, CAST(width AS BIGINT) AS width,
               CAST(height AS BIGINT) AS height,
               CAST(n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES {values}) v(url, fmt, width, height, n_bytes)
    """


# --- quantized embedding oracles (all-integer blocking + pinned doubles) ---
# The fixtures' embedding dim is 64 at every sf; the oracle SQL hardcodes it
# (the library functions stay dim-agnostic).
_EMB_DIM = 64
_EMB_SCALE = 1000


def _duck_quant_vec(expr: str) -> str:
    return (
        f"list_transform({expr}, x -> CAST(round(CAST(x AS DOUBLE) * "
        f"{_EMB_SCALE}) AS BIGINT))"
    )


def _duck_dot_q(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {_EMB_DIM}), "
        f"i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _duck_cos_q(dot: str, n2a: str, n2b: str) -> str:
    """Pinned IEEE double: CAST->sqrt->mul->div, same op order as Spark's
    quantized_cosine_col — bit-identical on identical integer inputs."""
    return (
        f"CASE WHEN {n2a} = 0 OR {n2b} = 0 THEN 0.0e0 ELSE "
        f"CAST({dot} AS DOUBLE) / (sqrt(CAST({n2a} AS DOUBLE)) * "
        f"sqrt(CAST({n2b} AS DOUBLE))) END"
    )


def _duck_plane_literal(plane) -> str:
    return "[" + ", ".join(str(int(x)) for x in plane) + "]"


def _duck_kmeans_chain(k: int, iters: int, src_sql: str) -> str:
    """WITH-clause body mirroring clustering.kmeans_assign round for
    round: quantize+shift (truncating // == floor on the nonnegative
    shifted ints, matching Spark's div), smallest-id init, per-round
    assignment (tie-break ORDER BY dist2, cluster) and floor-mean
    centroid update with empty-cluster carry-over. Every CTE is
    MATERIALIZED — the chained-CTE-inlining 4^k lesson. Ends at
    ``a_fin(vec_id, cluster, dist2)``, the final assignment."""
    from jarvis_ocr_service_spark.functions.clustering import OFFSET

    dim = _EMB_DIM
    qv = (
        f"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * "
        f"{_EMB_SCALE}) AS BIGINT) + {OFFSET})"
    )
    dist = (
        f"CAST(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))) AS BIGINT)"
    )
    parts = [
        f"pts AS MATERIALIZED (SELECT vec_id, {qv} AS q FROM ({src_sql}))",
        f"""c0 AS MATERIALIZED (
            SELECT (row_number() OVER (ORDER BY vec_id) - 1) AS cluster,
                   q AS c
            FROM (SELECT vec_id, q FROM pts ORDER BY vec_id LIMIT {k}))""",
    ]
    for r in range(iters):
        parts.append(f"""a{r} AS MATERIALIZED (
            SELECT vec_id, cluster FROM (
              SELECT vec_id, cluster,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist2, cluster) AS rn
              FROM (SELECT p.vec_id, c.cluster, {dist} AS dist2
                    FROM pts p CROSS JOIN c{r} c)) WHERE rn = 1)""")
        parts.append(f"""c{r + 1} AS MATERIALIZED (
            SELECT prev.cluster, COALESCE(nw.c, prev.c) AS c
            FROM c{r} prev LEFT JOIN (
              SELECT cluster, list(cv ORDER BY i) AS c FROM (
                SELECT a.cluster, s.i,
                       CAST(SUM(p.q[s.i]) // COUNT(*) AS BIGINT) AS cv
                FROM a{r} a JOIN pts p USING (vec_id)
                CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i) s
                GROUP BY 1, 2) GROUP BY cluster) nw USING (cluster))""")
    parts.append(f"""a_fin AS MATERIALIZED (
        SELECT vec_id, cluster, dist2 FROM (
          SELECT vec_id, cluster, dist2,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist2, cluster) AS rn
          FROM (SELECT p.vec_id, c.cluster, {dist} AS dist2
                FROM pts p CROSS JOIN c{iters} c)) WHERE rn = 1)""")
    return ",\n".join(parts)


def _duck_kmeans(k: int, iters: int) -> str:
    chain = _duck_kmeans_chain(
        k, iters, "SELECT vec_id, embedding FROM embeddings"
    )
    return f"""
        WITH {chain}
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist2
        FROM a_fin
    """


def _duck_semdedup(k: int, iters: int, threshold: float) -> str:
    src = (
        "SELECT vec_id, embedding FROM embeddings UNION ALL "
        "SELECT vec_id + 100000, embedding FROM embeddings"
    )
    chain = _duck_kmeans_chain(k, iters, src)
    return f"""
        WITH {chain},
        vqs AS MATERIALIZED (
          SELECT vec_id, {_duck_quant_vec('embedding')} AS vq
          FROM ({src})),
        m AS MATERIALIZED (
          SELECT a.vec_id, a.cluster, v.vq
          FROM a_fin a JOIN vqs v ON a.vec_id = v.vec_id),
        pr AS (SELECT b.vec_id AS did,
                      {_duck_dot_q('a.vq', 'b.vq')} AS dot,
                      {_duck_dot_q('a.vq', 'a.vq')} AS n2a,
                      {_duck_dot_q('b.vq', 'b.vq')} AS n2b
               FROM m a JOIN m b
               ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        dropped AS (SELECT DISTINCT did FROM pr
                    WHERE {_duck_cos_q('dot', 'n2a', 'n2b')}
                          >= {threshold})
        SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster
        FROM m LEFT JOIN dropped d ON m.vec_id = d.did
        WHERE d.did IS NULL
    """


def _duck_ivf_topk(n_clusters: int, iters: int, nprobe: int, k: int) -> str:
    """Mirror of clustering.ivf_topk_quantized: kmeans chain -> probe the nprobe
    centroid-nearest clusters (tie-break lowest id, exact shifted-int
    distances) -> quantized-cosine top-k over members of probed
    clusters only."""
    from jarvis_ocr_service_spark.functions.clustering import OFFSET

    chain = _duck_kmeans_chain(
        n_clusters, iters, "SELECT vec_id, embedding FROM embeddings"
    )
    qv_shift = (
        f"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * "
        f"{_EMB_SCALE}) AS BIGINT) + {OFFSET})"
    )
    cdist = (
        f"CAST(list_sum(list_transform(generate_series(1, {_EMB_DIM}), "
        f"i -> (c.c[i] - qs.qs[i]) * (c.c[i] - qs.qs[i]))) AS BIGINT)"
    )
    return f"""
        WITH {chain},
        qs AS MATERIALIZED (SELECT {qv_shift} AS qs
                            FROM embeddings WHERE vec_id = 0),
        probe AS MATERIALIZED (
          SELECT cluster FROM (
            SELECT c.cluster, {cdist} AS dist2
            FROM c{iters} c CROSS JOIN qs)
          ORDER BY dist2, cluster LIMIT {nprobe}),
        q AS (SELECT {_duck_quant_vec('embedding')} AS qq
              FROM embeddings WHERE vec_id = 0),
        v AS (SELECT e.vec_id, {_duck_quant_vec('e.embedding')} AS vq
              FROM embeddings e JOIN a_fin a ON e.vec_id = a.vec_id
              WHERE a.cluster IN (SELECT cluster FROM probe)),
        s AS (SELECT vec_id,
                     {_duck_dot_q('vq', 'qq')} AS dot,
                     {_duck_dot_q('vq', 'vq')} AS n2v,
                     {_duck_dot_q('qq', 'qq')} AS n2q
              FROM v, q)
        SELECT vec_id, {_duck_cos_q('dot', 'n2v', 'n2q')} AS cos_sim
        FROM s ORDER BY cos_sim DESC, vec_id LIMIT {k}
    """


def _duck_dedup_spans(k: int, min_count: int) -> str:
    """Mirror of dedup.dedup_ngram_spans — on LITERAL grams (DuckDB
    groups the gram strings; Spark groups blake2b-64 hashes of the
    same strings — identical answers absent a ~2^-64 collision).
    Case-preserving whitespace tokens; parallel unnests zip the
    position and gram streams; covered = union of [pos, pos+k)."""
    toks = (
        "list_filter(regexp_split_to_array(trim(coalesce(text, '')), "
        "'\\s+'), x -> x != '')"
    )
    npos = f"greatest(len(l) - {k} + 1, 0)"
    return f"""
        WITH t AS (SELECT doc_id, {toks} AS l FROM documents),
        g AS MATERIALIZED (
          SELECT doc_id,
                 unnest(generate_series(1, {npos})) AS pos,
                 unnest(list_transform(generate_series(1, {npos}),
                        i -> array_to_string(l[i:i + {k} - 1], ' ')))
                     AS gram
          FROM t),
        dup AS (SELECT gram FROM g GROUP BY 1
                HAVING count(*) >= {min_count}),
        cov AS (SELECT DISTINCT doc_id,
                       unnest(generate_series(pos, pos + {k} - 1)) AS idx
                FROM g JOIN dup USING (gram)),
        e AS (SELECT doc_id,
                     unnest(generate_series(1, len(l))) AS idx,
                     unnest(l) AS tok
              FROM t),
        r AS (SELECT e.doc_id,
                     coalesce(string_agg(e.tok, ' ' ORDER BY e.idx)
                              FILTER (WHERE c.idx IS NULL), '')
                         AS clean_text,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(count(c.idx) AS BIGINT) AS n_removed
              FROM e LEFT JOIN cov c
                ON e.doc_id = c.doc_id AND e.idx = c.idx
              GROUP BY e.doc_id)
        SELECT d.doc_id AS key,
               coalesce(r.clean_text, '') AS clean_text,
               CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
        FROM documents d LEFT JOIN r USING (doc_id)
    """


def _duck_dsir_weights(n_buckets: int, salt: str = "dsir") -> str:
    """Mirror of importance.dsir_weights: unigram+bigram grams over the
    shared py-token class, salted-md5 bucket hash, integer floor-log2
    add-one LLR proxy, target = doc_id % 10 == 0."""
    from jarvis_ocr_service_spark.functions.report import (
        size_bucket_duck_sql,
    )
    from jarvis_ocr_service_spark.functions.sampling import (
        shifted_hash_duck_sql,
    )

    h = shifted_hash_duck_sql("gram", salt)
    bucket = f"((({h}) % {n_buckets}) + {n_buckets}) % {n_buckets}"
    return f"""
        WITH t AS (SELECT doc_id,
                          {_duck_py_tokens("lower(text)")} AS l
                   FROM documents),
        g AS MATERIALIZED (
          SELECT doc_id,
                 unnest(list_concat(l,
                   list_transform(generate_series(1, len(l) - 1),
                                  i -> l[i] || ' ' || l[i + 1]))) AS gram
          FROM t),
        b AS MATERIALIZED (
          SELECT doc_id, {bucket} AS bucket FROM g),
        cr AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_raw
               FROM b GROUP BY 1),
        ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_tgt
               FROM b WHERE doc_id % 10 = 0 GROUP BY 1),
        sc AS (SELECT r.bucket,
                      {size_bucket_duck_sql('coalesce(t.c_tgt, 0) + 1')}
                      - {size_bucket_duck_sql('r.c_raw + 1')} AS s
               FROM cr r LEFT JOIN ct t USING (bucket)),
        per AS (SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_grams,
                       CAST(sum(sc.s) AS BIGINT) AS weight
                FROM b JOIN sc USING (bucket) GROUP BY 1)
        SELECT d.doc_id AS key,
               CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(p.weight, 0) AS BIGINT) AS weight
        FROM documents d LEFT JOIN per p USING (doc_id)
    """


def _duck_cosine_topk() -> str:
    return f"""
        WITH q AS (SELECT {_duck_quant_vec('embedding')} AS qq
                   FROM embeddings WHERE vec_id = 0),
        v AS (SELECT vec_id, {_duck_quant_vec('embedding')} AS vq
              FROM embeddings),
        s AS (SELECT vec_id,
                     {_duck_dot_q('vq', 'qq')} AS dot,
                     {_duck_dot_q('vq', 'vq')} AS n2v,
                     {_duck_dot_q('qq', 'qq')} AS n2q
              FROM v, q)
        SELECT vec_id, {_duck_cos_q('dot', 'n2v', 'n2q')} AS cos_sim
        FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


def _duck_lsh_topk(n_planes: int = 4, probe_hamming: int = 2) -> str:
    """Mirror of lsh_bucketed_topk_quantized: integer sign-bit buckets for
    every vector AND the query, probe = Hamming(bucket, qbucket) <=
    probe_hamming, quantized-cosine scoring."""
    from jarvis_ocr_service_spark.functions.simsearch import (
        _hyperplanes_quantized,
    )

    planes = _hyperplanes_quantized(_EMB_DIM, n_planes)
    bucket = " + ".join(
        f"(CASE WHEN {_duck_dot_q('vq', _duck_plane_literal(p))} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH v AS (SELECT vec_id, {_duck_quant_vec('embedding')} AS vq
                   FROM embeddings),
        b AS (SELECT vec_id, vq, {bucket} AS bucket FROM v),
        q AS (SELECT vq AS qq, bucket AS qbucket FROM b WHERE vec_id = 0),
        cand AS (SELECT b.vec_id, b.vq, q.qq
                 FROM b, q
                 WHERE bit_count(xor(CAST(b.bucket AS BIGINT),
                                     CAST(q.qbucket AS BIGINT)))
                       <= {probe_hamming}),
        s AS (SELECT vec_id,
                     {_duck_dot_q('vq', 'qq')} AS dot,
                     {_duck_dot_q('vq', 'vq')} AS n2v,
                     {_duck_dot_q('qq', 'qq')} AS n2q
              FROM cand)
        SELECT vec_id, {_duck_cos_q('dot', 'n2v', 'n2q')} AS cos_sim
        FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


def _duck_knn_graph(k: int = 3, n_planes: int = 24, bands: int = 6) -> str:
    """Mirror of _q_knn_graph: the banded candidate join of
    _duck_embedding_near_dups WITHOUT the twin union, then symmetrize +
    per-key row_number at the identical (cos desc, neighbor) order."""
    from jarvis_ocr_service_spark.functions.simsearch import (
        _hyperplanes_quantized,
    )

    r = n_planes // bands
    planes = _hyperplanes_quantized(_EMB_DIM, n_planes)
    bits = [
        f"(CASE WHEN {_duck_dot_q('vq', '[' + ', '.join(map(str, p)) + ']')}"
        " >= 0 THEN 1 ELSE 0 END)"
        for p in planes
    ]
    band_keys = [
        str((1 << r) * b) + " + " + " + ".join(
            f"({bits[b * r + j]} * {1 << j})" for j in range(r)
        )
        for b in range(bands)
    ]
    keys_arr = "[" + ", ".join(band_keys) + "]"
    return f"""
        WITH v AS (SELECT vec_id, {_duck_quant_vec('embedding')} AS vq
                   FROM embeddings),
        banded AS (SELECT vec_id, unnest({keys_arr}) AS bk FROM v),
        cand AS (SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
                 FROM banded a JOIN banded b
                 ON a.bk = b.bk AND a.vec_id < b.vec_id),
        pairs AS (SELECT c.key_a, c.key_b,
                         {_duck_dot_q('va.vq', 'vb.vq')} AS dot,
                         {_duck_dot_q('va.vq', 'va.vq')} AS n2a,
                         {_duck_dot_q('vb.vq', 'vb.vq')} AS n2b
                  FROM cand c
                  JOIN v va ON va.vec_id = c.key_a
                  JOIN v vb ON vb.vec_id = c.key_b),
        scored AS (SELECT key_a, key_b,
                          {_duck_cos_q('dot', 'n2a', 'n2b')} AS cos_sim
                   FROM pairs),
        sym AS (SELECT key_a AS key, key_b AS neighbor, cos_sim FROM scored
                UNION ALL
                SELECT key_b, key_a, cos_sim FROM scored),
        rk AS (SELECT key, neighbor, cos_sim,
                      row_number() OVER (PARTITION BY key
                                         ORDER BY cos_sim DESC, neighbor)
                          AS rank
               FROM sym)
        SELECT key, neighbor, cos_sim, CAST(rank AS BIGINT) AS rank
        FROM rk WHERE rank <= {k}
    """


def _duck_embedding_near_dups(
    threshold: float = 0.999, n_planes: int = 24, bands: int = 6
) -> str:
    """Mirror of the banded embedding_near_dup_pairs on the twins corpus:
    same quantized planes, same band keys (here composed as band*2^r+key —
    equivalent join predicate to Spark's (band, key) pair)."""
    from jarvis_ocr_service_spark.functions.simsearch import (
        _hyperplanes_quantized,
    )

    r = n_planes // bands
    planes = _hyperplanes_quantized(_EMB_DIM, n_planes)
    bits = [
        f"(CASE WHEN {_duck_dot_q('vq', _duck_plane_literal(p))} >= 0 "
        "THEN 1 ELSE 0 END)"
        for p in planes
    ]
    band_keys = [
        str((1 << r) * b) + " + " + " + ".join(
            f"({bits[b * r + j]} * {1 << j})" for j in range(r)
        )
        for b in range(bands)
    ]
    keys_arr = "[" + ", ".join(band_keys) + "]"
    return f"""
        WITH base AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000, embedding FROM embeddings),
        v AS (SELECT vec_id, {_duck_quant_vec('embedding')} AS vq FROM base),
        banded AS (SELECT vec_id, unnest({keys_arr}) AS bk FROM v),
        cand AS (SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
                 FROM banded a JOIN banded b
                 ON a.bk = b.bk AND a.vec_id < b.vec_id),
        pairs AS (SELECT c.key_a, c.key_b,
                         {_duck_dot_q('va.vq', 'vb.vq')} AS dot,
                         {_duck_dot_q('va.vq', 'va.vq')} AS n2a,
                         {_duck_dot_q('vb.vq', 'vb.vq')} AS n2b
                  FROM cand c
                  JOIN v va ON va.vec_id = c.key_a
                  JOIN v vb ON vb.vec_id = c.key_b)
        SELECT key_a, key_b, {_duck_cos_q('dot', 'n2a', 'n2b')} AS cos_sim
        FROM pairs
        WHERE {_duck_cos_q('dot', 'n2a', 'n2b')} >= {threshold}
    """


def _duck_lang_id(rel: str = "documents") -> str:
    """DuckDB mirror of textstats.lang_id_col: argmax of stopword hits,
    strictly-greater update over langs in sorted order, 'und' on zero.
    ``rel``: source relation with (doc_id, text) — parameterized so the
    composed prepare_gate oracle can run it over normalized text."""
    from jarvis_ocr_service_spark.functions.textstats import LANGS, STOPWORDS

    hit_cols = ", ".join(
        "len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + f"], t))) AS h_{lang}"
        for lang in LANGS
    )
    gmax = "greatest(" + ", ".join(f"h_{l}" for l in LANGS) + ")"
    case = " ".join(f"WHEN h_{l} = gm THEN '{l}'" for l in LANGS)
    return f"""
        WITH tk AS (SELECT doc_id,
                           {_duck_spark_tokens('lower(text)')} AS toks
                    FROM {rel}),
        h AS (SELECT doc_id, {hit_cols} FROM tk),
        g AS (SELECT *, {gmax} AS gm FROM h)
        SELECT doc_id, CASE WHEN gm = 0 THEN 'und' {case} END AS lang_guess
        FROM g
    """


def _duck_quality_score(rel: str = "documents") -> str:
    """DuckDB mirror of textstats.quality_score_col (identical arithmetic
    order; e0 suffixes force DOUBLE literals, not DECIMAL). ``rel`` as in
    _duck_lang_id."""
    from jarvis_ocr_service_spark.functions.textstats import LANGS, STOPWORDS

    stop_sum = " + ".join(
        f"len(list_filter({_duck_spark_tokens('lower(text)')}, "
        "t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + "], t)))"
        for lang in LANGS
    )
    return rf"""
        WITH b AS (
          SELECT doc_id,
                 coalesce(text, '') AS t,
                 length(coalesce(text, '')) AS n
          FROM {rel}),
        m AS (
          SELECT doc_id, n,
            CAST(length(regexp_replace(t, '[^A-Za-z]+', '', 'g')) AS DOUBLE)
              / CAST(greatest(n, 1) AS DOUBLE) AS alpha,
            CAST(length(regexp_replace(t, '[A-Za-z0-9_ \t\n\r\x0B\f]+', '', 'g'))
              AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE) AS punct,
            CAST(CASE WHEN trim(t) = '' THEN 0
                 ELSE len({_duck_spark_tokens('t')}) END AS DOUBLE)
              AS toks,
            CAST({stop_sum} AS DOUBLE) AS stop_hits
          FROM (SELECT doc_id, t, n, t AS text FROM b))
        SELECT doc_id,
               CASE WHEN n = 0 THEN 0.0e0 ELSE
                 least(1.0e0, greatest(0.0e0,
                   0.4e0 * alpha + 0.3e0 * least(1.0e0, toks / 100.0e0)
                   + 0.2e0 * (1.0e0 - punct)
                   + 0.1e0 * least(1.0e0, stop_hits / 10.0e0)))
               END AS quality
        FROM m
    """
