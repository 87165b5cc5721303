"""Corpus vocabulary building — the aggregation that feeds tokenizer
training (BPE/unigram corpora start from exact token/pair counts).

Tokens are the repo's pinned py-token class (lowercased
``str.split()``), so counts are portable to any engine for oracles.

Scale shape: explode -> ONE groupBy shuffle with map-side partial
aggregation (the count rows are (token, long) — tiny next to the
corpus); ``min_count`` filters AFTER the global count (a threshold
below it would be wrong — partial counts can be under it while the
global count is over). Top-k is orderBy+limit = TakeOrderedAndProject,
never a global sort. Pair counts reuse the same shape over adjacent
token pairs (the BPE-merge statistics).

Reference parity note: the reference service has no vocabulary ops;
this is part of the training-data layer (SURVEY §2 "beyond the
reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.tokens import py_tokens_col as _tokens
from jarvis_ocr_service_spark.plans.caching import local_checkpoint, release


def token_counts(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """(token, n) global exact counts; min_count filters the result."""
    out = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out


def top_tokens(df: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """The k most frequent tokens — (token, n), ties broken by token
    (deterministic)."""
    return (
        token_counts(df, text_col)
        .orderBy(F.desc("n"), F.col("token"))
        .limit(k)
    )


# BPE sequence encoding: every symbol is SEP + symbol + ' ' in one
# document string; a merged symbol joins its halves with JOIN; at
# character granularity word-final symbols carry EOW. Tokens must not
# contain SEP/JOIN/EOW (they are control chars a whitespace-split
# token never legitimately carries; the py-token class guarantees no
# spaces).
BPE_SEP = "\x1f"
BPE_JOIN = "\x01"


def bpe_merges(
    df: DataFrame,
    k: int,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Learn the first ``k`` BPE merges over the corpus at word
    granularity — the iterative-greedy tokenizer-training step on top
    of the pair statistics (r4 verdict item 5). Returns the merge table
    ``(merge_round, tok_a, tok_b, n)``: round r merged the most-frequent
    adjacent symbol pair (ties broken (n DESC, tok_a ASC, tok_b ASC) —
    deterministic in any engine), whose halves may themselves be earlier
    merges (joined with ``BPE_JOIN``). Stops early when no pair reaches
    ``min_count``.

    Plan shape per round (all JVM-side, no Python in the loop): each
    document rides as ONE string of SEP-prefixed space-terminated
    symbols, so (i) adjacent-pair counting is split-on-space +
    arrays_zip of the array with its own tail + explode + one partial-agg
    shuffle — no interpreted higher-order functions (the prefixes stay
    attached to the symbols and are stripped driver-side on the single
    winning row); (ii) the merge rewrite is ONE literal ``F.replace``
    (left-to-right non-overlapping in Spark, DuckDB, and classic BPE
    alike — the SEP prefix makes a pair occurrence textually
    unambiguous); (iii) lineage is truncated with an eager
    ``localCheckpoint`` per round (the pagerank rule: anything
    iterating rounds must truncate, or round r recomputes rounds
    0..r-1 and the nested plan eventually OOMs the driver)."""
    if k <= 0:
        raise ValueError("k must be positive")
    spark = df.sparkSession
    toks = _tokens(F.col(text_col))
    seq = local_checkpoint(
        df.select(toks.alias("_t"))
        .filter(F.size("_t") > 0)
        .select(
            F.concat(
                F.lit(BPE_SEP), F.array_join("_t", " " + BPE_SEP), F.lit(" ")
            ).alias("seq")
        )
    )
    merges = []
    for rnd in range(int(k)):
        arr = F.split(F.col("seq"), " ")
        # split on ' ' leaves a trailing "" (seq ends with a space):
        # real symbols are arr[0..size-2]; adjacent pairs zip the
        # symbol slice with its own tail (native slice, no lambdas)
        n_sym = F.size(arr) - 1
        pairs = F.arrays_zip(
            F.slice(arr, 1, F.greatest(n_sym - 1, F.lit(0))).alias("a"),
            F.slice(arr, 2, F.greatest(n_sym - 1, F.lit(0))).alias("b"),
        )
        top = (
            seq.select(F.explode(pairs).alias("p"))
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0].n < min_count:
            break
        a_sym, b_sym, n = top[0].a, top[0].b, int(top[0].n)
        merges.append((rnd, a_sym[1:], b_sym[1:], n))  # strip SEP prefix
        pat = a_sym + " " + b_sym + " "
        rep = a_sym + BPE_JOIN + b_sym[1:] + " "
        prev, seq = seq, local_checkpoint(
            seq.select(F.replace(F.col("seq"), F.lit(pat), F.lit(rep)).alias("seq"))
        )
        release(prev)
    release(seq)
    return spark.createDataFrame(
        merges, "merge_round long, tok_a string, tok_b string, n long"
    )


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges to the corpus: ``(key, n_symbols,
    encoded)`` where ``encoded`` is the document's symbol sequence
    joined by single spaces (merged symbols carry ``BPE_JOIN`` between
    their halves) and ``n_symbols`` its length — the tokenizer-apply
    step that pairs with :func:`bpe_merges`.

    ``merges`` is an ordered list of ``(tok_a, tok_b)`` pairs (e.g.
    ``[(r.tok_a, r.tok_b) for r in bpe_merges(df, k).collect()]`` — k
    driver-side rows, not a collect of corpus data). Application order
    matters and is the training order, exactly as in classic BPE.

    Plan: ONE projection — the k merges compile into k nested literal
    ``F.replace`` calls over the SEP-prefixed string form (same
    leftmost-non-overlapping semantics as training), then one final
    replace strips the SEP markers and an rtrim drops the trailing
    space. ``BPE_JOIN`` is retained INSIDE merged symbols by design —
    it is the merge-boundary witness in the encoded output. Pure
    codegen, no shuffle, no Python."""
    toks = _tokens(F.col(text_col))
    seq = F.when(
        F.size(toks) > 0,
        F.concat(F.lit(BPE_SEP), F.array_join(toks, " " + BPE_SEP), F.lit(" ")),
    ).otherwise(F.lit(""))
    for a, b in merges:
        pat = BPE_SEP + a + " " + BPE_SEP + b + " "
        rep = BPE_SEP + a + BPE_JOIN + b + " "
        seq = F.replace(seq, F.lit(pat), F.lit(rep))
    encoded = F.rtrim(F.replace(seq, F.lit(BPE_SEP), F.lit("")))
    n_symbols = F.when(
        encoded == "", F.lit(0)
    ).otherwise(F.size(F.split(encoded, " "))).cast("long")
    return df.select(
        F.col(key_col).alias("key"),
        n_symbols.alias("n_symbols"),
        encoded.alias("encoded"),
    )


# Character-level BPE (GPT-2 / Sennrich-style): words expand to
# SEP-prefixed character symbols, the word's LAST character carrying an
# end-of-word marker so merges can learn word-final units ("ing" vs
# "ing</w>"). Merges never cross word boundaries — training runs over
# the word-TYPE table weighted by word counts (the classic trick: the
# corpus collapses to its vocabulary after ONE shuffle, and every merge
# round is a job over a vocab-sized frame, not the corpus).
BPE_EOW = "\x02"


def _char_seq_word(col):
    """One WORD as a SEP-prefixed space-terminated character-symbol
    string, last char carrying BPE_EOW: 'low' -> '\\x1fl \\x1fo
    \\x1fw\\x02 '. Pure codegen (two regexp_replace)."""
    ce = F.regexp_replace(col, "(.)", BPE_SEP + "$1 ")
    return F.regexp_replace(ce, " $", BPE_EOW + " ")


def _bpe_char_chain(df, k: int, text_col: str, min_count: int):
    """Shared char-level BPE training loop. Returns (merges, final_seq)
    where merges = [(round, sym_a, sym_b, n)] (SEP prefixes stripped)
    and final_seq = the word-type table (token, seq, n) in its
    post-merge state — bpe_merges_char reads the first, bpe_vocab the
    second.

    Plan: token_counts is the ONLY corpus-scale stage (explode + one
    partial-agg shuffle); everything after runs over the vocab-sized
    word table (Heaps' law: ~10^8 distinct words at 10^12 rows — a few
    GB of strings, trivially partitionable). Each round: native
    split/slice/zip pair counting weighted by word count, a 1-row
    collect of the argmax, ONE literal replace, eager localCheckpoint
    (the pagerank lineage rule)."""
    if k <= 0:
        raise ValueError("k must be positive")
    words = token_counts(df, text_col)
    seq = local_checkpoint(
        words.select("token", _char_seq_word(F.col("token")).alias("seq"), "n")
    )
    merges = []
    for rnd in range(int(k)):
        arr = F.split(F.col("seq"), " ")
        n_sym = F.size(arr) - 1  # split leaves a trailing ""
        pairs = F.arrays_zip(
            F.slice(arr, 1, F.greatest(n_sym - 1, F.lit(0))).alias("a"),
            F.slice(arr, 2, F.greatest(n_sym - 1, F.lit(0))).alias("b"),
        )
        top = (
            seq.select(F.explode(pairs).alias("p"), "n")
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "n")
            .groupBy("a", "b")
            .agg(F.sum("n").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0].n < min_count:
            break
        a_sym, b_sym, n = top[0].a, top[0].b, int(top[0].n)
        merges.append((rnd, a_sym[1:], b_sym[1:], n))
        pat = a_sym + " " + b_sym + " "
        rep = a_sym + BPE_JOIN + b_sym[1:] + " "
        prev, seq = seq, local_checkpoint(
            seq.select(
                "token", F.replace(F.col("seq"), F.lit(pat), F.lit(rep)).alias("seq"), "n"
            )
        )
        release(prev)
    return merges, seq


def bpe_merges_char(
    df: DataFrame, k: int, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Learn the first ``k`` CHARACTER-level BPE merges (the real
    GPT-2-style tokenizer-training step; r5 verdict item 1). Returns
    ``(merge_round, sym_a, sym_b, n)`` — round r merged the globally
    most-frequent adjacent within-word symbol pair, weighted by word
    frequency, ties broken (n DESC, sym_a ASC, sym_b ASC). Word-final
    symbols carry ``BPE_EOW``; merged halves join with ``BPE_JOIN``.
    Stops early when no pair reaches ``min_count``.

    Counting matches the classic reference algorithm exactly:
    overlapping pair occurrences within a word all count ('aaa' gives
    (a,a) twice), and the merge rewrite is leftmost-non-overlapping —
    identical in Spark's literal replace, DuckDB's, and the
    brute-force mirror (test_vocab pins round-for-round parity)."""
    spark = df.sparkSession
    merges, seq = _bpe_char_chain(df, k, text_col, min_count)
    release(seq)
    return spark.createDataFrame(
        merges, "merge_round long, sym_a string, sym_b string, n long"
    )


def bpe_vocab(
    df: DataFrame, k: int, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """The symbol vocabulary AFTER ``k`` char-level merges: ``(symbol,
    n)`` — every surviving symbol (single chars, merged units, both
    with/without the end-of-word marker) and its total corpus
    occurrence count. This is the tokenizer's shipping artifact: base
    alphabet + learned merges = the vocab an encoder needs.

    Derived from the training chain's final word-type state: split each
    word's symbol string, strip the SEP prefixes, weight by word count,
    ONE vocab-sized shuffle."""
    merges, seq = _bpe_char_chain(df, k, text_col, min_count)
    arr = F.split(F.col("seq"), " ")
    syms = F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0)))
    return (
        seq.select(F.explode(syms).alias("s"), "n")
        .select(F.expr("substring(s, 2)").alias("symbol"), "n")
        .groupBy("symbol")
        .agg(F.sum("n").alias("n"))
    )


def bpe_encode_char(
    df: DataFrame,
    merges,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Apply learned char-level merges to the corpus: ``(key,
    n_symbols, encoded)`` — the document as space-joined symbols
    (merged halves carry ``BPE_JOIN``, word-final symbols ``BPE_EOW``).

    ``merges`` is the ordered [(sym_a, sym_b)] training output. Plan:
    ONE pure-codegen projection — the whole document char-expands with
    two regexp_replace (every char becomes a SEP-prefixed symbol; the
    expanded inter-word space collapses into the preceding symbol's
    end-of-word marker), then the k merges compile to k nested literal
    replaces. No shuffle, no Python, no join — the scale path for
    encoding 10^12 documents with a trained tokenizer.

    Safe as a GLOBAL string replace because no learned pattern can
    span a word boundary: a pair's first symbol is never word-final
    (only last symbols carry BPE_EOW, and a word-final symbol is never
    followed within its word), so the boundary text '<sym+EOW> <SEP>…'
    never matches any '<SEP>a <SEP>b ' pattern. The DuckDB oracle
    verifies this independently — it encodes per-TOKEN via a join onto
    the trained word table and rejoins in document order."""
    toks = _tokens(F.col(text_col))
    joined = F.concat(F.array_join(toks, " "), F.lit(" "))
    ce = F.regexp_replace(joined, "(.)", BPE_SEP + "$1 ")
    # '<space><SEP><space><space>' is the char-expanded inter-word
    # space plus the preceding symbol's terminator -> fold into EOW
    seq = F.replace(ce, F.lit(" " + BPE_SEP + "  "), F.lit(BPE_EOW + " "))
    seq = F.when(F.size(toks) > 0, seq).otherwise(F.lit(""))
    for a, b in merges:
        pat = BPE_SEP + a + " " + BPE_SEP + b + " "
        rep = BPE_SEP + a + BPE_JOIN + b + " "
        seq = F.replace(seq, F.lit(pat), F.lit(rep))
    encoded = F.rtrim(F.replace(seq, F.lit(BPE_SEP), F.lit("")))
    n_symbols = F.when(
        encoded == "", F.lit(0)
    ).otherwise(F.size(F.split(encoded, " "))).cast("long")
    return df.select(
        F.col(key_col).alias("key"),
        n_symbols.alias("n_symbols"),
        encoded.alias("encoded"),
    )


def bpe_encode_ids(
    df: DataFrame,
    merges,
    symbols,
    text_col: str = "text",
    key_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """The tokenizer's END product: ``(key, n_symbols, ids)`` with
    ``ids`` the document's integer token ids (array<long>) under an
    explicit symbol table — ``symbols`` is an ordered list, id = list
    position (the conventional frequency-rank assignment:
    ``[r.symbol for r in bpe_vocab(df, k).orderBy(desc('n'),
    'symbol').collect()]``). Symbols outside the table map to
    ``unk_id``.

    Plan: the char-level encode stays ONE codegen projection
    (:func:`bpe_encode_char`), then the symbol->id lookup runs as ONE
    Arrow stage with a plain dict in closure — encoded documents are
    hundreds of symbols, i.e. past the >100-element threshold where an
    interpreted ``F.transform`` lambda (never codegen, ~1 µs/element)
    becomes the hot-path bottleneck; the vocabulary itself is bounded
    (base alphabet + k merges), so the dict broadcast is bytes-scale.
    No shuffle anywhere."""
    from pyspark.sql import types as T

    enc = bpe_encode_char(df, merges, text_col, key_col)
    table = {s: i for i, s in enumerate(symbols)}
    unk = int(unk_id)
    key_field = enc.schema["key"]
    out_schema = T.StructType(
        [
            T.StructField("key", key_field.dataType, key_field.nullable),
            T.StructField("n_symbols", T.LongType(), True),
            T.StructField("ids", T.ArrayType(T.LongType(), False), False),
        ]
    )

    def gen(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            ids = [
                [table.get(s, unk) for s in e.split(" ")] if e else []
                for e in b["encoded"]
            ]
            yield pd.DataFrame(
                {"key": b["key"], "n_symbols": b["n_symbols"], "ids": ids}
            )

    return enc.mapInPandas(gen, schema=out_schema)


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Integer unigram LM quality proxy (the CCNet idea — score
    documents by how surprising their tokens are under a corpus
    language model; high surprisal = gibberish/rare-token soup, low =
    boilerplate): ``(key, n_tokens, surprisal)`` where ``surprisal`` =
    sum over the document's tokens of floor(log2(total_tokens //
    count(token))) — the ALL-INTEGER surprisal bucket (bit_length of
    the integer quotient, the same no-floating-log trick as
    report.size_bucket_col), so any engine computes the identical
    score. Zero-token documents report (0, 0).

    Plan: explode -> ONE partial-agg shuffle for the vocab counts
    (Zipf-absorbed map-side; the counts frame is CHECKPOINTED so the
    scalar-total collect and the surprisal join share one computation),
    then a join of the per-token surprisal table onto the token stream
    — UNHINTED: the vocabulary is corpus-bounded (Heaps' law — 10^8+
    distinct tokens at 10^12 rows), so a forced broadcast is the exact
    OOM hazard decontaminate avoids; AQE broadcasts when runtime size
    allows and sort-merges when it doesn't — then the per-doc sum (a
    shuffle of (key, long) rows). Real corpora would persist the
    vocab/surprisal frame and re-score increments against it."""
    from jarvis_ocr_service_spark.functions.report import size_bucket_col

    toks = df.select(
        F.col(key_col).alias("key"),
        F.explode(_tokens(F.col(text_col))).alias("token"),
    )
    counts = local_checkpoint(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n")).collect()[0][0] or 0
    sur = counts.select(
        "token",
        size_bucket_col(F.expr(f"CAST({int(total)} AS BIGINT) div n")).alias(
            "s"
        ),
    )
    per_doc = (
        toks.join(sur, "token")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("s").cast("long").alias("surprisal"),
        )
    )
    return (
        df.select(F.col(key_col).alias("key"))
        .join(per_doc, "key", "left")
        .select(
            "key",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("surprisal", F.lit(0)).cast("long").alias("surprisal"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    backoff_penalty: int = 4,
    min_bigram_count: int = 2,
) -> DataFrame:
    """Integer BIGRAM LM quality with backoff (r5 verdict item 4 — the
    honest sandbox stand-in for CCNet's 5-gram KenLM perplexity
    filter): ``(key, n_tokens, surprisal)`` where each document's
    first token scores its unigram surprisal floor_log2(T div n_t)
    (T = total corpus tokens) and every later token t_i scores the
    CONDITIONAL surprisal floor_log2(n_{t_{i-1}} div n_{t_{i-1} t_i})
    when the bigram reaches ``min_bigram_count`` in the corpus, else
    ``backoff_penalty + floor_log2(T div n_{t_i})`` — the stupid-
    backoff shape (penalty ≈ -log2 of the backoff weight) in the same
    all-integer floor-log2 buckets as :func:`unigram_surprisal`, so
    any engine computes identical scores. Zero-token documents report
    (0, 0). Rare-after-common sequences score high; boilerplate
    scores low.

    ``min_bigram_count`` (default 2 — singletons pruned) is both the
    LM practice and the scale requirement: at 10^12 tokens the
    unpruned bigram table is dominated by singletons (near one per
    corpus position), while the pruned table is vocabulary-like in
    size. It is also what makes backoff REACHABLE when scoring the
    counting corpus itself — unpruned, every document's bigrams are
    by construction in the table and the backoff branch is dead.

    Plan: the (prev, cur) pair stream is built JVM-side (prepend-NULL
    + arrays_zip — no index lambdas, no Python); unigram and bigram
    count tables each cost ONE partial-agg shuffle and are
    corpus-vocabulary-bounded; both join the pair stream UNHINTED
    (the decontaminate rule: a forced broadcast of a 10^8-row vocab
    is the OOM hazard — AQE broadcasts when runtime size allows);
    then one per-doc sum shuffle of (key, long) rows."""
    from jarvis_ocr_service_spark.functions.report import size_bucket_col

    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    prev = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
    )
    pairs = df.filter(F.size(toks) > 0).select(
        F.col(key_col).alias("key"),
        F.explode(F.arrays_zip(prev.alias("a"), toks.alias("b"))).alias("p"),
    ).select("key", F.col("p.a").alias("a"), F.col("p.b").alias("b"))

    uni = local_checkpoint(token_counts(df, text_col))
    total = uni.agg(F.sum("n")).collect()[0][0] or 0
    big = token_pair_counts(df, text_col, min_count=min_bigram_count).select(
        F.col("tok_a").alias("a"), F.col("tok_b").alias("b"),
        F.col("n").alias("n_ab"),
    )
    uni_b = uni.select(F.col("token").alias("b"), F.col("n").alias("n_b"))
    uni_a = uni.select(F.col("token").alias("a"), F.col("n").alias("n_a"))
    # integer `div`, never float `/` — the floor-log2 bucket must see
    # the exact integer quotient (a float ulp could flip a boundary)
    s_uni_b = size_bucket_col(
        F.expr(f"CAST({int(total)} AS BIGINT) div n_b")
    )
    scored = (
        pairs.join(uni_b, "b")
        .join(uni_a, "a", "left")
        .join(big, ["a", "b"], "left")
        .select(
            "key",
            F.when(F.col("a").isNull(), s_uni_b)
            .when(
                F.col("n_ab").isNotNull(),
                size_bucket_col(F.expr("n_a div n_ab")),
            )
            .otherwise(F.lit(int(backoff_penalty)) + s_uni_b)
            .alias("s"),
        )
    )
    per_doc = scored.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("s").cast("long").alias("surprisal"),
    )
    return (
        df.select(F.col(key_col).alias("key"))
        .join(per_doc, "key", "left")
        .select(
            "key",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("surprisal", F.lit(0)).cast("long").alias("surprisal"),
        )
    )


def token_pair_counts(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """(tok_a, tok_b, n) counts of ADJACENT token pairs in document
    order — the BPE-merge statistic, at word granularity. Pairs are
    built JVM-side by zipping the token array with its own tail (no
    Python, no index lambda — F.slice + arrays_zip)."""
    toks = _tokens(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("a"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("b"),
    )
    out = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out


# Empty documents have no perplexity; CCNet drops them — we keep every
# row (the repo's report-don't-drop rule) and pin them to the WORST
# score so they land in the tail bucket deterministically.
EMPTY_DOC_PPL = 1 << 62


def surprisal_buckets(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_buckets: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every document by its
    per-token surprisal under the corpus unigram LM and split the
    corpus into ``n_buckets`` equal-population buckets — CCNet's
    head/middle/tail quality partition (head = most fluent third,
    the slice usually kept for LM training; tail = gibberish/rare-
    token soup). Returns ``(key, ppl_q, bucket, bucket_name)``:

      ppl_q  = (surprisal * scale) // n_tokens   (integer per-token
               surprisal, :func:`unigram_surprisal` numerators;
               zero-token docs pin to EMPTY_DOC_PPL = 2^62 -> tail)
      pos    = global 0-based rank ascending (ppl_q, key)
      bucket = (pos * n_buckets) // n_docs       (0-based; equal
               population by construction, remainder spread one row
               at a time across the leading buckets)
      bucket_name = head / middle / tail for the 3-bucket case,
               "b<idx>" otherwise

    The tie-break on ``key`` makes the partition a total order — any
    engine reproduces it bit-for-bit (no NTILE, whose tie placement
    is engine-defined over equal sort keys).

    Plan: :func:`unigram_surprisal`'s two vocabulary-bounded shuffles,
    then the shared two-phase :func:`~jarvis_ocr_service_spark.functions.packing.global_rank`
    (range partitions + P-row offset collect + per-partition
    row_number) — NEVER a 1-task global window; the n_docs scalar
    falls out of the ranking for free. One extra shuffle total over
    the surprisal scoring; every post-rank expression is codegen."""
    from jarvis_ocr_service_spark.functions.packing import global_rank

    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    sur = unigram_surprisal(df, text_col=text_col, key_col=key_col)
    ppl = sur.select(
        "key",
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"CAST(surprisal * {int(scale)} AS BIGINT) div n_tokens"),
        )
        .otherwise(F.lit(EMPTY_DOC_PPL))
        .cast("long")
        .alias("ppl_q"),
    )
    ranked, n_docs = global_rank(ppl, ["ppl_q", "key"], out_col="pos")
    n_docs = max(n_docs, 1)
    bucket = F.expr(f"CAST(pos * {int(n_buckets)} AS BIGINT) div {n_docs}")
    if n_buckets == 3:
        name = (
            F.when(F.col("bucket") == 0, F.lit("head"))
            .when(F.col("bucket") == 1, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        name = F.concat(F.lit("b"), F.col("bucket").cast("string"))
    return ranked.withColumn("bucket", bucket.cast("long")).select(
        "key", "ppl_q", "bucket", name.alias("bucket_name")
    )


def bpe_decode_ids(
    df: DataFrame,
    symbols,
    ids_col: str = "ids",
    key_col: str = "key",
    unk_char: str = "�",
) -> DataFrame:
    """The tokenizer round-trip's other half: integer token ids back to
    the token stream — ``(key, n_unknown, text)``. Decode rule (the
    exact inverse of the encode conventions): look each id up in the
    ordered ``symbols`` table, concatenate symbol strings, strip the
    intra-symbol ``BPE_JOIN`` markers, turn each ``BPE_EOW`` into a
    word boundary, trim the trailing space. For any document, 
    ``decode(encode_ids(text)) == ' '.join(text.lower().split())`` — the
    lowercased whitespace-normalized token stream (encode is lossy
    exactly to that normalization, nothing else). Ids outside the
    table decode to ``unk_char`` and are counted in ``n_unknown``
    (report, don't hide).

    Plan: ONE Arrow stage with the bounded id->symbol list in closure
    (same economics as :func:`bpe_encode_ids`); no shuffle."""
    from pyspark.sql import types as T

    table = list(symbols)
    key_field = df.schema[key_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("key", key_field, True),
            T.StructField("n_unknown", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )

    def gen(batches):
        import pandas as pd

        n_sym = len(table)
        for b in batches:
            if not len(b):
                continue
            keys, unks, texts = [], [], []
            for k, ids in zip(b[key_col], b[ids_col]):
                syms, unk = [], 0
                for i in ids if ids is not None else []:
                    # a null element anywhere makes Arrow deliver the row
                    # as float64 (nan for the null) — int() both restores
                    # the valid ids and rejects the nan (ValueError), so
                    # bad elements are COUNTED, never a task crash
                    try:
                        ii = int(i)
                        ok = ii == i and 0 <= ii < n_sym
                    except (TypeError, ValueError, OverflowError):
                        ok = False
                    if ok:
                        syms.append(table[ii])
                    else:
                        syms.append(unk_char)
                        unk += 1
                s = "".join(syms).replace(BPE_JOIN, "").replace(BPE_EOW, " ")
                keys.append(k)
                unks.append(unk)
                texts.append(s.rstrip(" "))
            yield pd.DataFrame(
                {"key": keys, "n_unknown": unks, "text": texts}
            )

    return df.select(key_col, ids_col).mapInPandas(gen, schema=out_schema)
