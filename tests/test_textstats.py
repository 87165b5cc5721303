"""Text analysis operators."""

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.textstats import (
    bpe_ish_token_count_col,
    fingerprint_md5_col,
    lang_id_col,
    quality_score_col,
    rolling_hash64,
    text_stats,
    token_count_col,
)

ROWS = [
    (0, "the cat and the dog sat in the house with the mouse"),
    (1, "le chat et le chien est dans la maison avec une souris"),
    (2, "der hund und die katze ist nicht mit einem haus"),
    (3, "el perro y el gato es de la casa que un raton"),
    (4, "il cane che la casa di un gatto per non una strada"),
    (5, ""),
    (6, "zzz qqq xxx"),
    (7, "Hello, world! It's 2024 — and counting."),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string").cache()


def test_token_count(df):
    got = {r.doc_id: r.n for r in df.select("doc_id", token_count_col(F.col("text")).alias("n")).collect()}
    assert got[0] == 12
    assert got[5] == 0
    assert got[6] == 3


def test_bpe_ish_token_count(df):
    got = {r.doc_id: r.n for r in df.select("doc_id", bpe_ish_token_count_col(F.col("text")).alias("n")).collect()}
    # "Hello, world! It's 2024 — and counting." ->
    # Hello , world ! It ' s 2024 — and counting . = 12
    assert got[7] == 12
    assert got[5] == 0


def test_lang_id(df):
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id_col(F.col("text")).alias("lang")).collect()}
    assert got[0] == "en"
    assert got[1] == "fr"
    assert got[2] == "de"
    assert got[3] == "es"
    assert got[4] == "it"
    assert got[5] == "und"
    assert got[6] == "und"


def test_quality_score_bounds_and_ordering(df):
    got = {r.doc_id: r.q for r in df.select("doc_id", quality_score_col(F.col("text")).alias("q")).collect()}
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[5] == 0.0
    assert got[0] > got[6]  # real sentence beats consonant soup


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(0, "hello  world"), (1, "hello world"), (2, " hello world \r\n")],
        "doc_id long, text string",
    )
    fps = [r.fp for r in df.select(fingerprint_md5_col(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_rolling_hash_deterministic_and_order_sensitive(spark):
    df = spark.createDataFrame([("ab",), ("ba",), ("ab",), ("",)], "t string")
    got = [r.h for r in df.select(rolling_hash64(F.col("t")).alias("h")).collect()]
    assert got[0] == got[2]
    assert got[0] != got[1]
    assert got[3] == 0
    # matches the scalar definition
    assert got[0] == (ord("a") * 257 + ord("b")) % ((1 << 61) - 1)


def test_with_text_stats_equals_standalone_forms(spark):
    """The staged frame (split computed once) must be value-identical to
    the standalone column forms — including null text."""
    from jarvis_ocr_service_spark.functions.textstats import with_text_stats

    rows = ROWS + [(8, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    staged = {r.doc_id: r for r in with_text_stats(df).collect()}
    inline = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            token_count_col(F.col("text")).alias("n_tokens"),
            bpe_ish_token_count_col(F.col("text")).alias("n_subtokens"),
            F.octet_length("text").cast("long").alias("n_bytes"),
            lang_id_col(F.col("text")).alias("lang_guess"),
            quality_score_col(F.col("text")).alias("quality"),
            fingerprint_md5_col(F.col("text")).alias("fingerprint"),
        ).collect()
    }
    for k, a in inline.items():
        b = staged[k]
        for f in ("n_tokens", "n_subtokens", "n_bytes", "lang_guess",
                  "quality", "fingerprint"):
            assert a[f] == b[f], (k, f, a[f], b[f])


def test_text_stats_plan_splits_text_exactly_twice(spark):
    """Plan gate: the stats frame must stage the token splits (raw +
    lowered) as real columns — NOT re-inline split() into every stopword
    counter (~12 splits/row, the no-CSE trap for interpreted higher-order
    exprs)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = text_stats(docs)._jdf.queryExecution().executedPlan().toString()
    # tokenizer splits look like split(trim(...), \s+, -1); the fingerprint
    # path legitimately splits on newline inside normalize — count only the
    # whitespace-tokenizer form
    n_splits = plan.count(r"\s+")
    assert n_splits == 2, f"expected 2 staged tokenizer splits, plan has {n_splits}"


def test_text_stats_on_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    stats = text_stats(docs).collect()
    assert len(stats) == 50
    for r in stats:
        assert r.n_tokens > 0 and r.n_bytes > 0
        assert 0.0 <= r.quality <= 1.0
        assert len(r.fingerprint) == 32


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    share >=1 fingerprint; disjoint-alphabet docs share none."""
    from jarvis_ocr_service_spark.functions.textstats import (
        with_winnow_fingerprints,
    )

    shared = "the stolen paragraph travels between documents intact"
    a = "aaa bbb ccc " + shared + " ddd eee fff"
    b = "111 222 333 444 " + shared + " 555 666"
    c = "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq pppp oooo"
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, ""), (4, "tiny")],
        "doc_id long, text string",
    )
    got = {r.doc_id: set(r.winnow_fp)
           for r in with_winnow_fingerprints(df, k=8, w=8).collect()}
    assert got[0] & got[1], "shared substring must share a fingerprint"
    assert not (got[0] & got[2]) and not (got[1] & got[2])
    assert len(got[3]) == 1 and len(got[4]) == 1  # degenerate cases defined


def test_winnow_fingerprints_substring_invariance(spark):
    """A doc and a long copy of its middle share most fingerprints."""
    from jarvis_ocr_service_spark.functions.textstats import (
        with_winnow_fingerprints,
    )

    base = " ".join(f"word{i}" for i in range(120))
    middle = " ".join(f"word{i}" for i in range(30, 90))
    df = spark.createDataFrame([(0, base), (1, middle)],
                               "doc_id long, text string")
    got = {r.doc_id: set(r.winnow_fp)
           for r in with_winnow_fingerprints(df).collect()}
    overlap = len(got[0] & got[1]) / len(got[1])
    assert overlap >= 0.8, overlap


def test_spaced_stopword_counter_equals_filter_form(spark):
    """The native regexp_count stopword counter must be value-identical
    to the interpreted array-filter form on adversarial whitespace /
    boundary / repetition cases (it replaced the filter form inside
    with_text_stats for scale)."""
    import random

    from jarvis_ocr_service_spark.functions.textstats import (
        LANGS,
        STOPWORDS,
        spaced_lower_col,
        stopword_hits_col,
        stopword_hits_from_spaced,
        stopword_hits_from_toks,
        tokens_col,
    )

    rng = random.Random(11)
    vocab = sum(STOPWORDS.values(), []) + ["xxx", "THE", "the.", "thee",
                                           "and", "", "éé", "a"]
    cases = [
        "", " ", "the", " the ", "the the the", "\tthe\nand\r of ",
        "the  and   of", "Thé the", "the,and", "word the word",
    ]
    for _ in range(40):
        n = rng.randint(0, 30)
        sep = rng.choice([" ", "  ", "\t", "\n", " \r\n "])
        cases.append(sep.join(rng.choice(vocab) for _ in range(n)))
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, text string"
    )
    cols = [F.col("i")]
    for lang in LANGS:
        cols.append(
            stopword_hits_from_toks(
                tokens_col(F.lower(F.col("text"))), lang
            ).alias(f"f_{lang}")
        )
        cols.append(
            stopword_hits_from_spaced(
                spaced_lower_col(F.col("text")), lang
            ).alias(f"s_{lang}")
        )
        cols.append(stopword_hits_col(F.col("text"), lang).alias(f"c_{lang}"))
    for r in df.select(*cols).collect():
        for lang in LANGS:
            assert r[f"f_{lang}"] == r[f"s_{lang}"], (cases[r.i], lang)
            assert r[f"c_{lang}"] == r[f"s_{lang}"], (cases[r.i], lang)
