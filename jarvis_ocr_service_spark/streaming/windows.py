"""Event-time session windows (batch, or Structured Streaming with a
watermark).

The reference has no watermark/window semantics (SURVEY §2.7) — this is
part of the engine's *beyond-reference* streaming surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def sessionize(
    events,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "5 minutes",
    value_col: str = "value",
):
    """Session windows per user: events within ``gap`` of each other merge
    into one session (Spark ``session_window`` — session end = last event
    time + gap, the engine-standard convention). Batch form; pass a
    watermarked streaming frame for the streaming form (same expression —
    session_window is supported in Structured Streaming with watermarks).

    Returns (user, session_start, session_end, n_events, value_cents) —
    the value sum is integer cents, the repo's exact-aggregate pattern.

    Scale shape: ONE shuffle on (user, session_window) — Spark merges
    overlapping candidate sessions inside the aggregation; no window
    function, no per-user sort of the whole history.
    """
    return (
        events.groupBy(
            F.col(user_col).alias("user"),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            "user",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )
