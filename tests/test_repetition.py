"""Gopher-style repetition filters: hand-pinned values, brute-force
property, Spark/pure parity, and the single-Arrow-stage plan."""

import random

import pytest

from jarvis_ocr_service_spark.functions.repetition import (
    repetition_stats_one,
    with_repetition_stats,
)


def test_hand_pinned_values():
    r = repetition_stats_one("aa bb\naa bb\ncc dd")
    # lines: [aa bb, aa bb, cc dd] -> 1 dup of 3; dup chars 10 of 15
    assert r["dup_line_frac"] == (3 - 2) / 3
    assert r["dup_line_char_frac"] == 10 / 15
    r2 = repetition_stats_one("x y x y x y z", top_grams=(2,), dup_grams=(5,))
    # 2-grams: 'x y' x3 (len 3), 'y x' x2, 'y z' -> top = 3*3 / len(13)
    assert r2["top2_char_frac"] == 9 / 13
    # all three 5-grams distinct -> 0
    assert r2["dup5_char_frac"] == 0.0


def test_empty_and_short():
    for t in ("", None, "one", "  \n \n  "):
        r = repetition_stats_one(t)
        assert all(v == 0.0 for v in r.values()), (t, r)


def test_brute_force_property():
    """Random corpora vs an independent brute-force recomputation
    (different counting code path: sorted-list scan, not Counter)."""
    rng = random.Random(5)
    words = ["a", "bb", "ccc", "dd", "e"]

    def brute(text, n):
        toks = text.split()
        grams = sorted(
            " ".join(toks[i : i + n]) for i in range(max(0, len(toks) - n + 1))
        )
        if not grams:
            return 0.0, 0.0
        runs = []
        k = 0
        while k < len(grams):
            j = k
            while j < len(grams) and grams[j] == grams[k]:
                j += 1
            runs.append((grams[k], j - k))
            k = j
        tot = sum(len(g) * c for g, c in runs)
        dup = sum(len(g) * c for g, c in runs if c >= 2)
        best_c = max(c for _, c in runs)
        best_g = min(g for g, c in runs if c == best_c)
        top = best_c * len(best_g) / max(1, len(text))
        return (dup / tot if tot else 0.0), top

    for _ in range(60):
        toks = [rng.choice(words) for _ in range(rng.randint(0, 40))]
        text = " ".join(toks)
        r = repetition_stats_one(text, top_grams=(2,), dup_grams=(5,))
        dup5, _ = brute(text, 5)
        _, top2 = brute(text, 2)
        assert r["dup5_char_frac"] == dup5, text
        if len(toks) >= 2:
            assert r["top2_char_frac"] == top2, text


def test_max_chars_cap():
    base = "u v w " * 100
    capped = repetition_stats_one(base + "ZZZ unique tail", max_chars=len(base))
    uncapped = repetition_stats_one(base)
    assert capped == uncapped


def test_spark_matches_pure(spark):
    texts = [
        "aa bb\naa bb\ncc dd",
        "x y x y x y z",
        "",
        "one",
        "p q r s t u v w p q r s t",
        "line\nline\nline\nother",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    out = {
        r.i: r.rep_stats.asDict()
        for r in with_repetition_stats(df).collect()
    }
    for i, t in enumerate(texts):
        assert out[i] == repetition_stats_one(t), (i, t)


def test_single_arrow_stage(spark):
    """The stats must be one mapInPandas/ArrowEval stage over the scan —
    no shuffle for a per-row quality op."""
    df = spark.createDataFrame([(1, "a b c")], "i long, text string")
    plan = with_repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
