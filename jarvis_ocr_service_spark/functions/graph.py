"""Link-graph analytics: quantized PageRank over a (src, dst) edge table
— the authority job over a host- or page-level link graph.

Iterative algorithms are normally the hardest class to cross-check
(float accumulation order differs run-to-run and engine-to-engine), so
this PageRank is ALL-INTEGER — the repo's quantized-scoring discipline
applied to iteration:

    init      r_v  = scale // N
    share_v   = r_v // outdeg_v                  (per round)
    inc_v     = sum of shares over in-edges      (exact int sum —
                                                  order-independent)
    r_v'      = ((den-num) * (scale // N)) // den
                + (num * (inc_v [+ D // N])) // den    (num/den = 85/100)

Every operation is integer floor division / multiplication / addition,
so the rank vector after k rounds is bit-identical in any engine —
DuckDB reproduces it with k chained CTEs.

Dangling mass: ``dangling="leak"`` (default) is the simplified
treatment — rank flowing into sink nodes leaks, totals are not
renormalized; ``dangling="renormalize"`` applies the standard
redistribution: each round the summed rank D of zero-outdegree nodes is
shared uniformly (the quantized ``D // N`` term above — one exact BIGINT
scalar per round, so the iteration stays bit-reproducible). The two
modes are a documented divergence; both have chained-CTE oracles.

Scale shape: per round one join (edges x ranks — ranks is (node, long),
never wide rows) + one aggregation; lineage is TRUNCATED every round
with an eager ``localCheckpoint`` — persist+count alone keeps the
logical plan growing per round, and past ~25 rounds the nested
InMemoryRelation tree blows up plan handling (measured: driver OOM in
generateTreeString at iters=30; checkpointing makes every round's plan
O(1)). localCheckpoint is executor-local — on a real cluster with
executor churn, set a checkpoint dir and swap in reliable
``.checkpoint()`` (one-line change, noted inline). Rounds are a fixed
small constant (authority scores converge geometrically), or
``until_fixpoint=True`` iterates to the exact quantized fixpoint (the
integer dynamics usually reach a literal fixed vector) under a hard
``max_iters`` cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.plans.caching import local_checkpoint, persist, release

DEFAULT_SCALE = 10**12


def pagerank_quantized(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    scale: int = DEFAULT_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
    n_nodes: int | None = None,
    dangling: str = "leak",
    until_fixpoint: bool = False,
    max_iters: int = 50,
    shuffle_partitions: int = 0,
) -> DataFrame:
    """(node, rank_q) after ``iters`` rounds — rank_q is an exact BIGINT.

    ``n_nodes`` skips the count job when the caller knows it.
    ``dangling`` selects the sink-mass treatment (module docstring).
    ``until_fixpoint=True`` ignores ``iters`` and iterates until the
    quantized rank vector is literally unchanged (round <= ``max_iters``,
    hard error past the cap — never a silently-unconverged result; the
    per-round convergence check is one extra (node, long) join).

    ``shuffle_partitions`` > 0 pins the session's shuffle width for the
    duration of the call (restored after): each round is a join + agg
    over a (node, long) frame, so on SMALL graphs the default 32-200
    partitions are pure task-scheduling overhead — measured 3.7s -> 1.65s
    for 3 rounds on a 1k-node graph at 8 vs 32. Size it near the rank
    frame's real parallelism need; leave 0 (session default) for big
    graphs. The value affects physical scheduling only — results are
    bit-identical (pinned by test).

    The returned frame reads ONE checkpointed (node, long) frame, owned by
    the caller's ``cache_scope`` (plans/caching); each earlier round's
    checkpoint is released as soon as the next one exists."""
    if dangling not in ("leak", "renormalize"):
        raise ValueError("dangling must be 'leak' or 'renormalize'")
    if shuffle_partitions:
        spark = edges.sparkSession
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(shuffle_partitions)))
        try:
            return pagerank_quantized(
                edges,
                src_col=src_col,
                dst_col=dst_col,
                iters=iters,
                scale=scale,
                damp_num=damp_num,
                damp_den=damp_den,
                n_nodes=n_nodes,
                dangling=dangling,
                until_fixpoint=until_fixpoint,
                max_iters=max_iters,
                shuffle_partitions=0,
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = local_checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if n_nodes is None:
        n_nodes = nodes.count()
    if n_nodes == 0:
        # empty edge table -> empty ranking (not a ZeroDivisionError);
        # a crawl slice with no qualifying links is a normal input
        release(nodes)
        from pyspark.sql import types as _T

        node_type = e.schema["src"].dataType
        return edges.sparkSession.createDataFrame(
            [],
            _T.StructType(
                [
                    _T.StructField("node", node_type, True),
                    _T.StructField("rank_q", _T.LongType(), True),
                ]
            ),
        )
    init = int(scale) // int(n_nodes)
    base = ((damp_den - damp_num) * init) // damp_den

    rounds = int(max_iters) if until_fixpoint else int(iters)
    # Lineage policy: the per-round eager localCheckpoint exists to stop
    # plan growth (measured driver OOM in generateTreeString at ~30
    # rounds) and to anchor fixpoint mode's per-round comparisons. For a
    # SHALLOW fixed-iteration run the whole chain compiles into ONE job —
    # Spark dedupes the repeated e_deg/nodes shuffle stages across rounds
    # — so skipping the intermediate materializations removes
    # rounds-many job round-trips and re-reads; a single final
    # localCheckpoint still materializes and cuts lineage for callers.
    # (renormalize collects a scalar per round — a separate job each time
    # — so it must keep per-round materialization or earlier rounds would
    # recompute quadratically under the lazy chain)
    deep = until_fixpoint or dangling == "renormalize" or rounds > 8

    # the shallow chain reads e_deg from its one job only: a lazy persist
    e_deg = (local_checkpoint if deep else persist)(
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "src")
    )

    dangling_nodes = None
    if dangling == "renormalize":
        dangling_nodes = local_checkpoint(
            nodes.join(
                e.select("src").distinct().withColumnRenamed("src", "node"),
                "node",
                "left_anti",
            )
        )

    # eager localCheckpoint: materializes AND cuts lineage (module
    # docstring; at cluster scale prefer sc.setCheckpointDir + .checkpoint())
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    if deep:
        ranks = local_checkpoint(ranks)
    converged = not until_fixpoint
    for _ in range(rounds):
        dm_share = 0
        if dangling_nodes is not None:
            # one exact BIGINT scalar per round — the redistribution term
            dm = (
                ranks.join(dangling_nodes, "node")
                .agg(F.sum("rank"))
                .collect()[0][0]
            )
            dm_share = int(dm or 0) // int(n_nodes)
        contrib = (
            e_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("inc"))
        )
        new_ranks = nodes.join(
            contrib.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damp_num} * (coalesce(inc, 0L) + {dm_share}))"
                    f" div {damp_den}"
                )
            ).cast("long").alias("rank"),
        )
        if deep:
            new_ranks = local_checkpoint(new_ranks)  # materialized + lineage cut
        if until_fixpoint:
            changed = (
                new_ranks.join(
                    ranks.select("node", F.col("rank").alias("_old")), "node"
                )
                .filter(F.col("rank") != F.col("_old"))
                .count()
            )
        release(ranks)  # the old round's checkpoint (the shallow chain has none)
        ranks = new_ranks
        if until_fixpoint and changed == 0:
            converged = True
            break
    if not deep:
        # one materialization for the whole chain: lineage cut + the
        # frame the returned plan reads
        ranks = local_checkpoint(ranks)
    release(e_deg)
    release(nodes)
    if dangling_nodes is not None:
        release(dangling_nodes)
    if not converged:
        release(ranks)
        raise RuntimeError(
            f"pagerank_quantized did not reach a quantized fixpoint within "
            f"{max_iters} rounds — integer dynamics can (rarely) oscillate; "
            "use a fixed iters instead"
        )
    return ranks.select("node", F.col("rank").alias("rank_q"))
