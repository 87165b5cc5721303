"""Deterministic sampling, splitting, and data-mixing primitives.

Training-data pipelines never want `rand()`: a sample must be
REPRODUCIBLE (same corpus -> same sample on any cluster layout, any
partition count, any retry) and CONSISTENT (a document's fate depends
only on its key, so incremental batches agree with backfills). The
standard tool is hash-based sampling: map a stable key through a salted
md5, treat the first 8 bytes as a uniform uint64, and compare against a
rate threshold. Everything here is pure Column expressions (codegen, no
shuffle except where ranking is the semantics) with exact DuckDB
mirrors — md5 is bit-identical in any engine.

Ops:
  * hash_sample      — Bernoulli p-sample, partition-independent
  * hash_split       — disjoint train/val/test assignment (one pass)
  * stratified_take  — top-k per stratum in hash order (data mixing /
                       per-language quotas); ONE shuffle on the stratum
  * hash_bucket      — stable n-way shard id (the write-partitioning
                       primitive)

The uint64 trick: DuckDB and Spark both lack an unsigned 64-bit type,
so the comparison uses the SIGNED reinterpretation of the top half of
md5 with thresholds mapped through the same reinterpretation — integer
compare, zero float involvement, exact in both engines.

Reference parity note: the reference service has no sampling; this is
part of the training-data layer (SURVEY §2 "beyond the reference").
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_U64 = 1 << 64


def _threshold_signed(rate: float) -> int:
    """rate in [0,1] -> signed-int64 threshold t such that
    P(h64 wrapped-signed < t-ish) == rate under the unsigned order.
    We compare on the SIGNED value shifted by 2^63: signed(h) compares
    like unsigned(h) after adding 2^63 with wraparound, so the
    threshold is unsigned_threshold - 2^63.

    rate=1.0 (and float rounding just below it) would map to 2^63,
    which overflows LongType — clamp to int64 max. The comparison is
    strict `<`, so the clamp excludes only the single hash value
    2^63-1 (P = 2^-64 per key): keep-everything callers should skip
    the filter, and hash_sample does exactly that at rate == 1.0."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    return min(int(rate * _U64), _U64 - 1) - (1 << 63)


def _shifted(col, salt: str):
    """Hash mapped to signed int64 whose ORDER equals the unsigned
    order: u64 - 2^63 with int64 wraparound (hi XOR the sign bit)."""
    h = F.md5(F.encode(F.concat(F.lit(f"{salt}#"), col.cast("string")), "UTF-8"))
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    # (hi - 2^31) * 2^32 + lo  ==  u64 - 2^63, computed without overflow
    return (hi - F.lit(1 << 31)) * F.lit(1 << 32) + lo


def shifted_hash_duck_sql(expr: str, salt: str) -> str:
    """EXACT DuckDB mirror of the order-preserving signed hash (DuckDB
    parses '0x…' string casts; each 8-hex half fits BIGINT)."""
    h = f"md5('{salt}' || '#' || CAST({expr} AS VARCHAR))"
    hi = f"CAST('0x' || substring({h}, 1, 8) AS BIGINT)"
    lo = f"CAST('0x' || substring({h}, 9, 8) AS BIGINT)"
    return f"(({hi}) - 2147483648) * 4294967296 + ({lo})"


def hash_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", salt: str = "sample"
) -> DataFrame:
    """Deterministic Bernoulli sample: keeps exactly the rows whose
    salted key-hash falls under the rate threshold. Same key + salt ->
    same fate, everywhere, forever. Pure filter — no shuffle.

    rate == 1.0 is a no-op (keep everything) rather than a filter, so
    the clamped threshold's 2^-64 edge never bites; rates outside
    [0, 1] are rejected with ValueError (a silent clamp of >1.0 would
    hide a caller bug)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    if rate >= 1.0:
        return df
    return df.filter(_shifted(F.col(key_col), salt) < F.lit(_threshold_signed(rate)))


def hash_split(
    df: DataFrame,
    weights: Dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Disjoint deterministic split (train/val/test): each row gets the
    label of the interval its hash lands in; weights must sum to ~1.
    Labels assign in sorted-label order (pinned). One projection."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"weights must sum to 1 (got {total})")
    h = _shifted(F.col(key_col), salt)
    expr = None
    acc = 0.0
    labels = sorted(weights)
    for lab in labels[:-1]:
        acc += weights[lab]
        cond = h < F.lit(_threshold_signed(acc))
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    expr = (
        F.lit(labels[-1]) if expr is None else expr.otherwise(F.lit(labels[-1]))
    )
    return df.withColumn(out_col, expr)


def stratified_take(
    df: DataFrame,
    quota: int,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "strata",
) -> DataFrame:
    """At most ``quota`` rows per stratum, chosen in hash order — the
    per-language / per-domain mixing primitive: deterministic, stable
    under corpus growth (a new document only displaces the current
    hash-maximum, never reshuffles the whole stratum).

    ONE shuffle on the stratum; the rank sorts (hash, key) so ties are
    impossible with distinct keys."""
    w = Window.partitionBy(strata_col).orderBy(
        _shifted(F.col(key_col), salt), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )


def shuffle_order(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "shuffle",
    out_col: str = "pos",
    num_partitions: int = 0,
) -> DataFrame:
    """Deterministic global training-order shuffle: df + ``out_col`` =
    the row's 0-based position in ascending (salted-hash, key) order —
    the reproducible corpus-shuffle a pretraining run wants (same keys
    + salt -> same order on any cluster layout; change the salt for a
    fresh epoch permutation).

    Scale shape: a bare ``row_number() OVER (ORDER BY ...)`` collapses
    the corpus into ONE task (the global-window trap packing.py
    documents). Delegates to :func:`~jarvis_ocr_service_spark.
    functions.packing.global_rank` — the shared two-phase ranking —
    ordered by (salted hash, key); identical result to the global
    window (which is exactly what the DuckDB oracle runs)."""
    from jarvis_ocr_service_spark.functions.packing import global_rank

    ranked, _total = global_rank(
        df.withColumn("_h", _shifted(F.col(key_col), salt)),
        ["_h", key_col],
        out_col=out_col,
        num_partitions=num_partitions,
    )
    return ranked.drop("_h")


def mix_corpora(
    sources: Dict[str, DataFrame],
    rates: Dict[str, float],
    key_col: str = "doc_id",
    salt: str = "mix",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic data mixture: hash-sample each source at its own
    rate and union, tagging rows with the source name — the corpus-
    mixing step of a training-data recipe (e.g. web 0.6, code 0.9,
    books 1.0), reproducible and incrementally consistent per source.

    The per-source salt is ``salt#name`` so the same key appearing in
    two sources gets independent fates. Union of zero-shuffle filters —
    map-only end to end."""
    if set(sources) != set(rates):
        raise ValueError("sources and rates must have identical keys")
    out = None
    for name in sorted(sources):
        part = hash_sample(
            sources[name], rates[name], key_col=key_col, salt=f"{salt}#{name}"
        ).withColumn(source_col, F.lit(name))
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("sources must be non-empty")
    return out


def hash_bucket(
    df: DataFrame,
    n_buckets: int,
    key_col: str = "doc_id",
    salt: str = "bucket",
    out_col: str = "bucket",
) -> DataFrame:
    """Stable n-way shard id in [0, n_buckets) — the deterministic
    write-partitioning / A-B-assignment primitive. pmod keeps it
    non-negative over the signed hash."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    return df.withColumn(
        out_col, F.pmod(_shifted(F.col(key_col), salt), F.lit(n_buckets)).cast("long")
    )


def select_to_budget(
    df: DataFrame,
    budget: int,
    size_col: str = "n_tokens",
    score_col: str = "score",
    key_col: str = "doc_id",
    num_partitions: int = 0,
) -> DataFrame:
    """Keep the best-scoring documents whose cumulative size fits a
    global budget — the token-budget selection step of a data recipe
    (rank by quality, e.g. a DSIR weight or a quality score, then take
    as much as the training-token budget allows).

    Pinned rule: sort by (score DESC, key ASC), inclusive running sum
    of ``size_col``, keep rows with running sum <= ``budget``. Sizes
    are nonnegative so the running sum is monotone and the filter is
    exactly a PREFIX of the quality ranking (the first document that
    would cross the budget stops the selection — greedy prefix, not
    knapsack; a pinned, engine-independent rule). Emits the input
    columns plus ``cum_size`` (the inclusive running sum) so callers
    can audit the cut.

    Shape: delegates to the shared two-phase prefix sum
    (packing.with_global_cumsum over the multi-column order) — range
    partition on (-score, key), P-row driver collect of partition
    totals, per-partition window. Never the 1-task global window the
    oracle runs."""
    from jarvis_ocr_service_spark.functions.packing import with_global_cumsum

    if budget < 0:
        raise ValueError("budget must be nonnegative")
    d = df.withColumn("_negscore", -F.col(score_col).cast("long"))
    cum = with_global_cumsum(
        d,
        ["_negscore", key_col],
        size_col,
        out_col="cum_size",
        num_partitions=num_partitions,
    )
    return cum.filter(F.col("cum_size") <= int(budget)).drop("_negscore")


def upsample_epochs(
    df: DataFrame,
    epochs: float,
    key_col: str = "doc_id",
    salt: str = "epochs",
) -> DataFrame:
    """Deterministic fractional-epoch repetition — the data-recipe
    upsampling op (training mixtures repeat trusted sources: wiki at
    2.45 epochs etc.). Every document appears ``floor(epochs)`` times;
    the hash-selected ``epochs - floor(epochs)`` fraction of documents
    (the same salted-md5 family as :func:`hash_sample`, so the
    selection is engine-exact and stable under corpus growth) appears
    once more. Output = input columns + ``epoch`` (0-based copy
    index). ``epochs < 1`` degenerates to plain hash-sampling;
    documents with zero copies are dropped (that IS the semantics —
    the sampling ops own report-don't-drop variants).

    The fractional threshold is resolved to an integer ONCE, driver-
    side (``_threshold_signed``), and embedded as a literal in the
    plan — no float arithmetic crosses the engine boundary.

    Scale shape: ONE codegen projection + explode — no shuffle, no
    Python; output rows = ceil-ish(epochs) x input. Downstream
    training order should compose :func:`shuffle_order` over
    (key, epoch) so repeated copies spread through the epoch stream
    instead of clustering."""
    if epochs < 0:
        raise ValueError("epochs must be nonnegative")
    base = int(epochs)
    frac = epochs - base
    thr = _threshold_signed(min(max(frac, 0.0), 1.0))
    extra = (
        (_shifted(F.col(key_col), salt) < F.lit(thr))
        if frac > 0
        else F.lit(False)
    )
    n_copies = (F.lit(base) + extra.cast("int")).cast("long")
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_n_copies") - 1)),
        )
        .drop("_n_copies")
    )


def upsample_epochs_duck_sql(
    epochs: float, key_expr: str = "doc_id", salt: str = "epochs"
) -> str:
    """DuckDB mirror fragment: ``(n_copies_expr, selected_expr)`` is not
    enough — emit the full per-row copy-count expression callers embed.
    Returns the integer n_copies SQL for a row keyed ``key_expr``,
    using the identical driver-resolved threshold literal."""
    base = int(epochs)
    frac = epochs - base
    if frac <= 0:
        return f"CAST({base} AS BIGINT)"
    thr = _threshold_signed(frac)
    h = shifted_hash_duck_sql(key_expr, salt)
    return (
        f"CAST({base} + CASE WHEN ({h}) < {thr} THEN 1 ELSE 0 END AS BIGINT)"
    )
