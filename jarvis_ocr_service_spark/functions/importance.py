"""DSIR-style importance weighting for data selection.

Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) scores raw-corpus documents by the log-likelihood
ratio between a TARGET distribution (the high-quality data you want
more of) and the RAW distribution, both modeled as bag-of-hashed-
n-gram multinomials: hash each unigram and bigram into B buckets,
estimate per-bucket probabilities on each corpus, and weight a doc by
sum over its grams of ``log p_target(bucket) - log p_raw(bucket)``.
Docs that look like the target float up; boilerplate sinks.

No counterpart in the reference (alexberardi/jarvis-ocr-service has
no corpus-selection layer) — this is the LLM-pipeline brief's data-
mixing op, composing with hash_sample/stratified_take for the actual
resampling step.

All-integer scoring (the repo's standing oracle rule): the per-bucket
score is ``bl(c_t + 1) - bl(c_r + 1)`` where ``bl`` is the exact
floor-log2 bucket (report.size_bucket_col — bit-length of the binary
form, no floating log) and ``c_t``/``c_r`` are the target/raw bucket
counts; add-one smoothing keeps zero-count buckets finite. This is
DSIR's LLR up to (a) log2 units, (b) floor quantization, and (c) the
additive constant ``m * (bl-ish(T_r) - bl-ish(T_t))`` from the two
normalizing masses, which is a pure function of the doc's gram count
``m`` — emitted as ``n_grams`` so callers can re-add or
length-normalize. Ranking between equal-length docs is preserved
exactly; any engine reproduces every score bit-for-bit.

Gram hashing reuses the repo's salted-md5 signed-int64 family
(sampling._shifted / shifted_hash_duck_sql) — bit-identical in Spark
and DuckDB — reduced mod ``n_buckets`` (nonnegative pmod). Bigram
string = ``tok_a || ' ' || tok_b``; unigrams contain no whitespace
(the shared py-token class), so the two gram kinds cannot collide.

Scale shape: gram stream = explode (map-only, no Python); both count
tables are ONE partial-agg shuffle each and are bounded by B (the
whole point of hashed features — B ~ 10^4-10^6 regardless of corpus
size); the score table joins the raw gram stream UNHINTED (B rows —
AQE broadcasts it in practice; the decontaminate rule says never
force it); the per-doc sum is one (key, long) shuffle. Counting the
target corpus costs one extra pass over it only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.report import size_bucket_col
from jarvis_ocr_service_spark.functions.sampling import _shifted
from jarvis_ocr_service_spark.functions.tokens import py_tokens_col
from jarvis_ocr_service_spark.plans.caching import local_checkpoint


def _gram_stream(
    df: DataFrame, text_col: str, key_col: str
) -> DataFrame:
    """(key, gram) stream of unigrams + adjacent bigrams. Built as a
    UNION of two explodes with the string assembly AFTER the explode
    (plain codegen concat_ws on struct fields) — no interpreted
    higher-order lambda ever maps over the token array (the
    >100-element-array eval hazard; same shape as vocab's
    token_pair_counts)."""
    toks = py_tokens_col(F.col(text_col))
    uni = df.select(
        F.col(key_col).alias("key"), F.explode(toks).alias("gram")
    )
    n = F.size(toks)
    bi = (
        df.select(
            F.col(key_col).alias("key"),
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("a"),
                    F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("b"),
                )
            ).alias("p"),
        )
        .select("key", F.concat_ws(" ", F.col("p.a"), F.col("p.b")).alias("gram"))
    )
    return uni.unionByName(bi)


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 4096,
    salt: str = "dsir",
) -> DataFrame:
    """(key, n_grams, weight): integer DSIR importance weight of every
    ``raw`` document against the ``target`` corpus distribution.

    ``weight`` = sum over the doc's hashed grams of
    ``bl(c_target[bucket] + 1) - bl(c_raw[bucket] + 1)``; higher means
    more target-like. Zero-gram documents report (0, 0). Compose with
    e.g. ``stratified_take`` on a weight-derived stratum, or a top-k,
    for the selection step."""
    if n_buckets < 1:
        raise ValueError("n_buckets >= 1 required")

    def grams(df: DataFrame) -> DataFrame:
        return _gram_stream(df, text_col, key_col).select(
            "key",
            F.pmod(_shifted(F.col("gram"), salt), F.lit(int(n_buckets)))
            .cast("long")
            .alias("bucket"),
        )

    raw_grams = grams(raw)
    c_raw = raw_grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw")
    )
    c_tgt = grams(target).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_tgt")
    )
    # score table: <= n_buckets rows; raw-side buckets drive (a bucket
    # absent from raw cannot appear in the stream being scored)
    scores = (
        c_raw.join(c_tgt, "bucket", "left")
        .select(
            "bucket",
            (
                size_bucket_col(F.coalesce("c_tgt", F.lit(0)) + F.lit(1))
                - size_bucket_col(F.col("c_raw") + F.lit(1))
            ).alias("s"),
        )
    )
    per_doc = (
        raw_grams.join(scores, "bucket")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("s").cast("long").alias("weight"),
        )
    )
    return (
        raw.select(F.col(key_col).alias("key"))
        .join(per_doc, "key", "left")
        .select(
            "key",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("weight", F.lit(0)).cast("long").alias("weight"),
        )
    )


def corpus_divergence(
    df_p: DataFrame,
    df_q: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus drift report: integer cross-entropy / KL-divergence proxy
    between two corpora under Laplace-smoothed unigram LMs — the
    mixture-tuning / crawl-drift statistic (how far did this snapshot
    move from the last one; how unlike the target is this source).

    All-integer (the classifier's per-class surprisal applied
    symmetrically): with T_x = corpus-x token total, V = |union
    vocabulary|, n_t^x = count of token t in x, the smoothed surprisal
    is ``s_x(t) = floor_log2((T_x + V) // (n_t^x + 1))`` and the report
    row carries the exact integer numerators

        ent_p   = sum_t n_t^P * s_P(t)        (entropy of P, x T_P)
        xent_pq = sum_t n_t^P * s_Q(t)        (P scored under Q's LM)
        kl_pq   = xent_pq - ent_p             (~ T_P * KL(P||Q) bits)

    plus the mirrored Q-side terms, token/vocab totals, and OOV mass
    (oov_p = P tokens whose type never occurs in Q). Callers divide by
    the emitted totals for per-token rates; keeping numerators integer
    makes the report engine-exact (floor noise <= 1 bit per term; the
    identical-corpus case is EXACTLY kl = 0 because s_P == s_Q).

    Scale shape: tokenize both corpora, tag side, ONE vocabulary-
    bounded groupBy(token) shuffle with map-side partial agg, then a
    single global agg to one row. Nothing corpus-squared; the
    vocabulary is the only shuffled payload."""
    tok_p = df_p.select(F.explode(py_tokens_col(F.col(text_col))).alias("token"))
    tok_q = df_q.select(F.explode(py_tokens_col(F.col(text_col))).alias("token"))
    tagged = tok_p.withColumn("_p", F.lit(1)).withColumn("_q", F.lit(0)).unionByName(
        tok_q.withColumn("_p", F.lit(0)).withColumn("_q", F.lit(1))
    )
    counts = local_checkpoint(
        tagged.groupBy("token").agg(
            F.sum("_p").cast("long").alias("np"),
            F.sum("_q").cast("long").alias("nq"),
        )
    )
    tot = counts.agg(
        F.coalesce(F.sum("np"), F.lit(0)).alias("tp"),
        F.coalesce(F.sum("nq"), F.lit(0)).alias("tq"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    t_p, t_q, v = int(tot.tp), int(tot.tq), int(tot.v)
    s_p = size_bucket_col(F.expr(f"CAST({t_p + v} AS BIGINT) div (np + 1)"))
    s_q = size_bucket_col(F.expr(f"CAST({t_q + v} AS BIGINT) div (nq + 1)"))
    return counts.agg(
        F.lit(t_p).cast("long").alias("t_p"),
        F.lit(t_q).cast("long").alias("t_q"),
        F.lit(v).cast("long").alias("v"),
        F.coalesce(
            F.sum(F.when(F.col("nq") == 0, F.col("np")).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("oov_p"),
        F.coalesce(
            F.sum(F.when(F.col("np") == 0, F.col("nq")).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("oov_q"),
        F.coalesce(F.sum(F.col("np") * s_p), F.lit(0)).cast("long").alias("ent_p"),
        F.coalesce(F.sum(F.col("nq") * s_q), F.lit(0)).cast("long").alias("ent_q"),
        F.coalesce(F.sum(F.col("np") * s_q), F.lit(0)).cast("long").alias("xent_pq"),
        F.coalesce(F.sum(F.col("nq") * s_p), F.lit(0)).cast("long").alias("xent_qp"),
    ).select(
        "t_p",
        "t_q",
        "v",
        "oov_p",
        "oov_q",
        "ent_p",
        "ent_q",
        "xent_pq",
        "xent_qp",
        (F.col("xent_pq") - F.col("ent_p")).cast("long").alias("kl_pq"),
        (F.col("xent_qp") - F.col("ent_q")).cast("long").alias("kl_qp"),
    )
