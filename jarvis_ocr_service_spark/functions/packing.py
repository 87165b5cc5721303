"""Sequence packing: assign documents to fixed-token-budget packs — the
pretraining step that concatenates a corpus in a deterministic order
and cuts it into max_tokens windows (documents may straddle a cut; the
pack id of a document is where its FIRST token lands — pinned rule:
``pack_id = (cumsum_before_doc) // max_tokens``).

The interesting part is the GLOBAL CUMULATIVE SUM at scale. The naive
form — ``sum() over (order by key)`` with no partition key — collapses
the whole corpus into ONE task (the classic window scale-killer). The
scale-correct shape is the textbook two-phase prefix sum:

  1. range-repartition by the order key (RangePartitioning assigns
     ascending key ranges to ascending partition ids);
  2. per-partition totals: one tiny aggregate (P rows) collected to the
     driver, turned into exclusive prefix offsets;
  3. within-partition running sum (window partitioned BY PARTITION ID —
     parallel across partitions) + the broadcast offset.

Identical result to the global window (the oracle IS the global
window, in DuckDB), wall-clock parallel across the cluster.

Reference parity note: the reference service has no packing; this is
part of the training-data layer (SURVEY §2 "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.plans.caching import local_checkpoint


def global_rank(
    df: DataFrame,
    order_cols,
    out_col: str = "pos",
    num_partitions: int = 0,
):
    """df + ``out_col`` = the row's 0-based position in ascending
    ``order_cols`` order, via the two-phase parallel ranking (range
    partitions + P-row per-partition counts collected as exclusive
    offsets + per-partition row_number) — NEVER the 1-task global
    window (which is exactly what the DuckDB oracles run). Returns
    ``(ranked_df, total_rows)`` so callers sizing rank targets don't
    need a separate full count. THE shared machinery behind
    shuffle_order, exact_quantiles, and (as a cumsum generalization)
    assign_packs — one implementation, three ops."""
    spark = df.sparkSession
    cols = [F.col(c) for c in (
        [order_cols] if isinstance(order_cols, str) else list(order_cols)
    )]
    p = num_partitions or spark.sparkContext.defaultParallelism
    ranged = local_checkpoint(
        df.repartitionByRange(p, *cols).withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        r._pid: r.n
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()] or [(0, 0)],
        "_pid int, _off long",
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (
        ranged.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_rn") + F.col("_off") - 1).cast("long"))
        .drop("_pid", "_rn", "_off")
    )
    return out, acc


def with_global_cumsum(
    df: DataFrame,
    order_col,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int = 0,
) -> DataFrame:
    """df + ``out_col`` = inclusive running sum of ``value_col`` in
    ascending ``order_col`` order (a column name or a list of names;
    the combined order values must be distinct — they define the
    concatenation order). Two-phase prefix sum; see module docstring
    for why this is NOT a bare global window."""
    spark = df.sparkSession
    order_cols = (
        [order_col] if isinstance(order_col, str) else list(order_col)
    )
    p = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(
        p, *[F.col(c) for c in order_cols]
    ).withColumn("_pid", F.spark_partition_id())
    ranged = local_checkpoint(ranged)  # totals + cumsum both read it
    totals = {
        r._pid: r.total
        for r in ranged.groupBy("_pid")
        .agg(F.sum(value_col).alias("total"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn("_local", F.sum(value_col).over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_local") + F.col("_off")).cast("long"))
        .drop("_pid", "_local", "_off")
    )


def assign_packs(
    df: DataFrame,
    max_tokens: int,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    num_partitions: int = 0,
) -> DataFrame:
    """df + ``pack_id`` + ``pack_offset``: concatenate documents in
    ``order_col`` order and cut every ``max_tokens`` tokens; a document
    belongs to the pack where its first token lands, at offset
    ``pack_offset`` inside that pack. Documents longer than
    ``max_tokens`` straddle several cuts (standard pretraining packing
    — the trainer splits them); downstream can filter or re-chunk."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    cum = with_global_cumsum(
        df, order_col, token_col, out_col="_cum", num_partitions=num_partitions
    )
    return (
        cum.withColumn(
            "_start", (F.col("_cum") - F.col(token_col)).cast("long")
        )
        .withColumn("pack_id", F.expr(f"_start div {int(max_tokens)}"))
        .withColumn(
            "pack_offset",
            F.pmod(F.col("_start"), F.lit(int(max_tokens))).cast("long"),
        )
        .drop("_cum", "_start")
    )


def pack_chunks(
    df: DataFrame,
    max_tokens: int,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    num_partitions: int = 0,
) -> DataFrame:
    """Straddle-aware packing: one output row per (document, pack)
    intersection, so every pack's contents are DIRECTLY trainable — no
    trainer-side splitting of straddling documents (r4 verdict item 7).

    Cut the concatenated ``order_col``-ordered token stream every
    ``max_tokens`` tokens; a document occupying global positions
    [start, start+n) yields one chunk per pack it touches:

      * ``pack_id``      — the pack this chunk lands in
      * ``chunk_index``  — 0-based index of the chunk within its document
      * ``pack_offset``  — where the chunk starts inside the pack
                           (non-zero only for a document's first chunk)
      * ``tok_start``    — where the chunk starts inside the DOCUMENT
      * ``chunk_tokens`` — chunk length; sums to ``token_col`` per
                           document (the concatenation invariant)

    Zero-token documents yield no chunks (nothing to train on).

    Plan: the same two-phase prefix sum as :func:`assign_packs`, then a
    JVM-side ``explode(sequence(first_pack, last_pack))`` + pure integer
    arithmetic — no Python, and the explode factor is exactly
    ceil(n/max_tokens) per document (every generated row is a real
    output row, nothing filtered). All integers, so the DuckDB oracle
    (global window + generate_series) is value-exact."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    m = int(max_tokens)
    cum = with_global_cumsum(
        df, order_col, token_col, out_col="_cum", num_partitions=num_partitions
    )
    return (
        cum.withColumn("_start", (F.col("_cum") - F.col(token_col)).cast("long"))
        .filter(F.col(token_col) > 0)
        .withColumn("_p0", F.expr(f"_start div {m}"))
        .withColumn("_p1", F.expr(f"(_start + {token_col} - 1) div {m}"))
        .withColumn("pack_id", F.explode(F.sequence(F.col("_p0"), F.col("_p1"))))
        .withColumn("chunk_index", (F.col("pack_id") - F.col("_p0")).cast("long"))
        .withColumn(
            "_cstart", F.greatest(F.col("pack_id") * m, F.col("_start"))
        )
        .withColumn(
            "_cend",
            F.least((F.col("pack_id") + 1) * m, F.col("_start") + F.col(token_col)),
        )
        .withColumn("pack_offset", (F.col("_cstart") - F.col("pack_id") * m).cast("long"))
        .withColumn("tok_start", (F.col("_cstart") - F.col("_start")).cast("long"))
        .withColumn("chunk_tokens", (F.col("_cend") - F.col("_cstart")).cast("long"))
        .drop("_cum", "_start", "_p0", "_p1", "_cstart", "_cend")
    )


def pack_texts(
    df: DataFrame,
    max_tokens: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_partitions: int = 0,
) -> DataFrame:
    """The packing chain's final artifact: the ASSEMBLED training text
    per pack — ``(pack_id, n_chunks, n_tokens, text)`` where ``text``
    is the pack's token stream (chunks in pack order, space-joined;
    every pack except the last carries exactly ``max_tokens`` tokens —
    the concatenation invariant, now at the string level). This is the
    row a trainer's data loader actually reads; EOS insertion belongs
    to tokenization (compose with bpe_encode_ids downstream).

    Plan: tokenize ONCE — the token arrays ride THROUGH
    :func:`pack_chunks`' checkpointed ranged frame (extra columns pass
    through the two-phase prefix sum, so no re-tokenize and no key
    join), chunks slice their tokens JVM-side, then ONE pack_id
    shuffle whose per-group payload is bounded by ``max_tokens``
    tokens of text — collect_list here is safe BY CONSTRUCTION (a
    pack is a fixed-size container; that is the definition of the
    operator). The assembly extraction is a native struct-field get,
    not an interpreted lambda (the >100-element HOF rule)."""
    from jarvis_ocr_service_spark.functions.tokens import py_tokens_col

    toks = py_tokens_col(F.col(text_col))
    base = df.select(
        F.col(key_col).alias("_k"),
        toks.alias("_toks"),
        F.size(toks).cast("long").alias("_nt"),
    )
    chunks = pack_chunks(
        base, max_tokens, token_col="_nt", order_col="_k",
        num_partitions=num_partitions,
    )
    sliced = chunks.select(
        "pack_id",
        "pack_offset",
        "chunk_tokens",
        F.array_join(
            F.slice(
                F.col("_toks"),
                F.col("tok_start").cast("int") + F.lit(1),
                F.col("chunk_tokens").cast("int"),
            ),
            " ",
        ).alias("_ct"),
    )
    return (
        sliced.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("chunk_tokens").cast("long").alias("n_tokens"),
            F.array_join(
                F.sort_array(
                    F.collect_list(F.struct("pack_offset", "_ct"))
                ).getField("_ct"),
                " ",
            ).alias("text"),
        )
    )
