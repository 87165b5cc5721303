"""Dedup operators: exact, MinHash-LSH, n-gram Jaccard, SimHash."""

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.dedup import (
    dedup_exact,
    dedup_lines,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
    word_shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river"),
    (1, "the quick brown fox jumps over the lazy dog near the river"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the creek"),  # near dup
    (3, "completely different content about spark query engines and shuffles"),
    (4, "another unrelated document mentioning parquet files and arrow batches"),
    (5, "the quick brown fox jumps over the lazy dog near the river bank today"),  # near dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_dedup_exact(docs):
    out = dedup_exact(docs).collect()
    kept = {r.doc_id: r.dup_count for r in out}
    assert kept[0] == 2  # doc 1 collapsed into 0 (min key)
    assert 1 not in kept
    assert len(kept) == 5


def test_dedup_lines_corpus_rule(spark):
    """C4/RefinedWeb line dedup: every occurrence of a line repeated
    corpus-wide beyond max_count is removed, order preserved, empty
    lines kept as structure, fully-boilerplate docs become ''."""
    docs = [
        (0, "unique alpha\ncookie banner\nunique beta"),
        (1, "cookie banner\n\nunique gamma"),   # empty line preserved
        (2, "cookie banner"),                    # all boilerplate -> ""
        (3, "unique delta\nunique epsilon"),
        (4, ""),                                  # empty doc stays ""
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.key: r.text for r in dedup_lines(df, max_count=1).collect()}
    assert got == {
        0: "unique alpha\nunique beta",
        1: "\nunique gamma",
        2: "",
        3: "unique delta\nunique epsilon",
        4: "",
    }
    # max_count=2 tolerates the 3x "cookie banner"? no — 3 > 2, still
    # dropped; max_count=3 keeps it everywhere
    kept = {r.key: r.text for r in dedup_lines(df, max_count=3).collect()}
    assert kept == {k: t for k, t in docs}
    # many-line order preservation under the parallel rebuild
    long_doc = "\n".join(f"line{i}" for i in range(60))
    df2 = spark.createDataFrame([(0, long_doc)], "doc_id long, text string")
    assert dedup_lines(df2).collect()[0].text == long_doc
    # sep is LITERAL, not a regex: "." must not split on every char
    df3 = spark.createDataFrame(
        [(0, "keep me.boiler"), (1, "other.boiler")], "doc_id long, text string"
    )
    got3 = {r.key: r.text for r in dedup_lines(df3, max_count=1, sep=".").collect()}
    assert got3 == {0: "keep me", 1: "other"}


def test_dedup_paragraphs_unit_and_order(spark):
    """RefinedWeb paragraph dedup: the unit is the blank-line-separated
    paragraph (single newlines INSIDE a paragraph are content, not
    separators), repeated paragraphs vanish everywhere, order and
    paragraph structure are preserved."""
    from jarvis_ocr_service_spark.functions.dedup import dedup_paragraphs

    licence = "licensed under\nthe same terms"   # multi-LINE paragraph
    docs = [
        (0, f"intro one\n\n{licence}\n\nbody one"),
        (1, f"{licence}\n\nbody two"),
        (2, licence),                              # all boilerplate -> ""
        (3, "solo paragraph\nwith two lines"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.key: r.text for r in dedup_paragraphs(df).collect()}
    assert got == {
        0: "intro one\n\nbody one",
        1: "body two",
        2: "",
        3: "solo paragraph\nwith two lines",
    }
    # order preservation across many paragraphs under the parallel
    # rebuild (positions shuffle through the explode + groupBy)
    long_doc = "\n\n".join(f"para {i} text" for i in range(40))
    df2 = spark.createDataFrame([(0, long_doc)], "doc_id long, text string")
    assert dedup_paragraphs(df2).collect()[0].text == long_doc
    # line dedup at max_count=1 would ALSO kill "body one"/"body two"?
    # no — they are unique; but it WOULD split the licence paragraph
    # into lines: paragraph dedup must treat it atomically, so a doc
    # repeating only one LINE of the licence is untouched
    df3 = spark.createDataFrame(
        docs + [(4, "licensed under")], "doc_id long, text string"
    )
    got3 = {r.key: r.text for r in dedup_paragraphs(df3).collect()}
    assert got3[4] == "licensed under"   # one line != the paragraph


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "t string")
    rows = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()
    assert rows[0].s == ["a b c", "b c d"]
    assert rows[1].s == ["x y"]  # shorter than k -> whole text


def test_minhash_signature_deterministic(docs):
    a = {r.doc_id: r.sig for r in docs.select("doc_id", minhash_signature(F.col("text")).alias("sig")).collect()}
    b = {r.doc_id: r.sig for r in docs.select("doc_id", minhash_signature(F.col("text")).alias("sig")).collect()}
    assert a == b
    assert a[0] == a[1]  # identical text -> identical signature


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r.key_a, r.key_b) for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()}
    assert (0, 1) in pairs  # exact dup
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup
    # unrelated docs never pair
    assert not any(3 in p or 4 in p for p in pairs)


def test_ngram_jaccard(docs):
    pairs = {(r.key_a, r.key_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert (3, 4) not in pairs


def test_simhash_properties(docs):
    sigs = {r.doc_id: r.sig for r in docs.select("doc_id", simhash64("text").alias("sig")).collect()}
    assert sigs[0] == sigs[1]
    ham = bin((sigs[0] ^ sigs[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sigs[0] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
    assert ham < ham_far  # near dup closer than unrelated


def test_simhash_near_pairs(docs):
    pairs = {(r.key_a, r.key_b): r.hamming for r in simhash_near_pairs(docs, max_hamming=6).collect()}
    assert pairs.get((0, 1)) == 0
    assert not any((a in (3, 4)) ^ (b in (3, 4)) for (a, b) in pairs)


def test_ngram_prefix_filter_exact_vs_plain_blocking(spark):
    """Prefix-filtered candidate generation must return EXACTLY the same
    verified pair set as plain shared-shingle blocking (it is a lossless
    filter, not an approximation)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        "doc_id < 60"
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.greatest(F.lit(1), F.floor(F.size(toks) * 3 / 4)).cast("int")
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(toks, F.lit(1), keep), " ").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(twins)
    a = {
        (r.key_a, r.key_b): round(r.jaccard, 12)
        for r in ngram_jaccard_pairs(
            corpus, k=4, threshold=0.3, prefix_filter=True
        ).collect()
    }
    b = {
        (r.key_a, r.key_b): round(r.jaccard, 12)
        for r in ngram_jaccard_pairs(
            corpus, k=4, threshold=0.3, prefix_filter=False
        ).collect()
    }
    assert a and a == b


def test_ngram_prefix_filter_bounds_boilerplate_candidates(spark):
    """Duplicated-boilerplate corpus: every doc shares a header shingle, so
    plain shared-shingle blocking candidates grow ~n^2 while rarest-first
    prefixes keep only the true near-dup pairs."""
    from jarvis_ocr_service_spark.functions.dedup import (
        ngram_prefix_candidates,
        word_shingles,
    )

    header = "subscribe to our newsletter terms of service privacy policy"
    rows = [
        (i, header + " " + " ".join(f"u{i}x{j}" for j in range(12)))
        for i in range(80)
    ]
    rows += [(10000, rows[0][1]), (10001, rows[1][1])]  # two exact dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select(
        F.col("doc_id").alias("k"), word_shingles(F.col("text"), 3).alias("sh")
    )
    n_prefix = ngram_prefix_candidates(sh, threshold=0.8).count()
    # plain blocking: every pair shares the header shingles -> ~n^2/2
    ex = sh.select("k", F.explode("sh").alias("g"))
    n_plain = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.k") < F.col("b.k")))
        .select("a.k", "b.k")
        .distinct()
        .count()
    )
    assert n_plain > 3000  # all-pairs-ish
    assert n_prefix <= 20, (n_prefix, n_plain)  # only near-dup candidates
    # and the exact pairs are still found
    pairs = {(r.key_a, r.key_b)
             for r in ngram_jaccard_pairs(df, k=3, threshold=0.8).collect()}
    assert (0, 10000) in pairs and (1, 10001) in pairs


def test_ngram_max_tokens_bounds_shingling(spark):
    """max_tokens bounds the shingled region: two docs identical in the
    first 100 tokens but divergent after must pair at max_tokens=100 and
    not without the bound."""
    common = " ".join(f"w{i}" for i in range(100))
    a = common + " " + " ".join(f"a{i}" for i in range(400))
    b = common + " " + " ".join(f"b{i}" for i in range(400))
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    bounded = ngram_jaccard_pairs(df, k=3, threshold=0.9, max_tokens=100)
    assert {(r.key_a, r.key_b) for r in bounded.collect()} == {(0, 1)}
    unbounded = ngram_jaccard_pairs(df, k=3, threshold=0.9)
    assert unbounded.count() == 0


def test_simhash_vectorized_matches_scalar_reference(spark):
    """The batch-numpy UDF must be byte-identical to the scalar definition
    (which the DuckDB oracle also mirrors)."""
    from jarvis_ocr_service_spark.functions.dedup import simhash64_one

    texts = [
        "", "   ", "one", "one one one", "the cat sat on the mat",
        "the cat sat on the mat again and again and again",
        "unicode tøkens élan 😀 mixed", "a " * 3000 + "tail",
        None,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r.i: r.sig for r in df.select("i", simhash64("text").alias("sig")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == simhash64_one(t or ""), (i, t)


def test_simhash_near_pairs_complete_vs_brute_force(spark):
    """Contract: pairs with Hamming <= max_hamming are ALL found (the old
    fixed-4-band layout only guaranteed Hamming<=3; bands now default to
    max_hamming+1). Exhaustive check against scalar brute force on a
    perturbed corpus, at a max_hamming well beyond 3."""
    from jarvis_ocr_service_spark.functions.dedup import simhash64_one

    words = "the quick brown fox jumps over a lazy dog near the old river".split()
    texts = []
    for i in range(60):
        t = list(words) * 3
        t[i % len(t)] = f"mut{i}"
        if i % 3 == 0:
            t.append(f"tail{i % 7}")
        texts.append(" ".join(t))
    sigs = [simhash64_one(t) for t in texts]
    mask = (1 << 64) - 1
    H = 12
    expected = {
        (a, b): bin((sigs[a] ^ sigs[b]) & mask).count("1")
        for a in range(len(texts))
        for b in range(a + 1, len(texts))
        if bin((sigs[a] ^ sigs[b]) & mask).count("1") <= H
    }
    assert expected, "fixture produced no close pairs — test is vacuous"
    assert any(h > 3 for h in expected.values()), "need pairs beyond Hamming 3"
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(4)
    got = {(r.key_a, r.key_b): r.hamming
           for r in simhash_near_pairs(df, max_hamming=H).collect()}
    assert got == expected
    # and the guard refuses an under-banded layout
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        simhash_near_pairs(df, max_hamming=H, bands=4)


def test_minhash_recall_on_perturbed_corpus(spark):
    """Realistic near-dup recall: every base doc gets a perturbed twin
    (one word replaced ~ jaccard >= 0.9 for 100+ word docs); LSH must
    recover >=90% of the planted pairs and report high jaccard."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").filter(
        "doc_id < 150 and n_chars > 300"
    )
    base = [(r.doc_id, r.text) for r in docs.collect()]
    rows = []
    for doc_id, text in base:
        words = text.split()
        words[len(words) // 2] = "PERTURBED"
        rows.append((doc_id, text))
        rows.append((doc_id + 10000, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    pairs = {
        (r.key_a, r.key_b): r.jaccard
        for r in minhash_lsh_pairs(df, verify_threshold=0.6).collect()
    }
    planted = {(d, d + 10000) for d, _ in base}
    found = planted & set(pairs)
    assert len(found) >= 0.9 * len(planted), (len(found), len(planted))
    assert all(pairs[p] >= 0.6 for p in found)


def test_minhash_on_real_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    # word-soup corpus: verify it runs at scale shape and emits sane pairs
    pairs = minhash_lsh_pairs(docs, verify_threshold=0.8).collect()
    for r in pairs:
        assert r.key_a < r.key_b and r.jaccard >= 0.8


def test_dup_clusters_transitive_chain(spark):
    """A-B, B-C, D-E: chain collapses to A transitively, separate pair to D."""
    from jarvis_ocr_service_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4), (20, 21), (21, 22), (20, 22)],
        "key_a long, key_b long",
    )
    got = {r.key: r.cluster for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_dup_clusters_long_chain_and_cap(spark):
    from jarvis_ocr_service_spark.functions.dedup import dup_clusters

    chain = [(i, i + 1) for i in range(12)]  # diameter 12
    pairs = spark.createDataFrame(chain, "key_a long, key_b long")
    got = {r.key: r.cluster for r in dup_clusters(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == 13
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="converge"):
        dup_clusters(pairs, max_iters=2)


def test_dup_clusters_on_minhash_chain(spark):
    """End-to-end: connected components over MinHash-LSH pairs collapse a
    transitive chain (A~B, B~C, A!~C) to one representative."""
    from jarvis_ocr_service_spark.functions.dedup import dup_clusters

    words = [f"w{i}" for i in range(120)]
    a = " ".join(words)          # 118 shingles
    b = " ".join(words[:90])     # 88 shingles, all in a: J(a,b)=0.75
    c = " ".join(words[:66])     # 64 shingles: J(b,c)=0.73, J(a,c)=0.54
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    # 8 bands of r=2: J=0.75 collides w.p. ~0.999; the a-c pair may appear
    # as a candidate but exact verification drops it (0.54 < 0.6)
    pairs = minhash_lsh_pairs(df, bands=8, verify_threshold=0.6)
    got = {(r.key_a, r.key_b) for r in pairs.select("key_a", "key_b").collect()}
    assert (1, 2) in got and (2, 3) in got and (1, 3) not in got, got
    clusters = {r.key: r.cluster for r in dup_clusters(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1}


def test_winnow_near_pairs_finds_partial_copy(spark):
    """A paragraph lifted from doc A into an otherwise-different doc B
    must produce an (A, B) pair — the substring-level capability that
    whole-document signatures dilute away."""
    from jarvis_ocr_service_spark.functions.dedup import winnow_near_pairs

    lifted = "this exact paragraph was copied wholesale between documents"
    rows = [
        (0, "completely unrelated opening text " + lifted + " and a different ending"),
        (1, "another document with its own framing. " + lifted + " plus extra words"),
        (2, "nothing in common with the others at all, fully distinct content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.key_a, r.key_b) for r in winnow_near_pairs(df, min_shared=2).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_winnow_near_pairs_max_df_drops_boilerplate(spark):
    """A substring shared by EVERY document (boilerplate) must not create
    pairs when max_df caps the fingerprint document frequency."""
    from jarvis_ocr_service_spark.functions.dedup import winnow_near_pairs

    boiler = "standard legal disclaimer appended to every single page here"
    rows = [(i, f"unique body number {i} {'x' * (i + 1)} " + boiler) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = winnow_near_pairs(df, min_shared=2).count()
    capped = winnow_near_pairs(df, min_shared=2, max_df=5).count()
    assert uncapped > 0
    assert capped < uncapped


def test_winnow_near_pairs_plan_is_blocked_equi_join(spark):
    from jarvis_ocr_service_spark.functions.dedup import winnow_near_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        "doc_id < 30"
    )
    plan = (
        winnow_near_pairs(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_max_bucket_caps_hot_bands(spark):
    """A corpus of identical documents puts everything in one band bucket;
    max_bucket drops those buckets instead of a quadratic candidate join
    (the 300k-page composed-pipeline disk-DNF guard)."""
    from jarvis_ocr_service_spark.functions.dedup import minhash_lsh_pairs

    rows = [(i, "the same exact templated page body repeated everywhere")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_lsh_pairs(df, verify_threshold=0.9).count()
    capped = minhash_lsh_pairs(df, verify_threshold=0.9, max_bucket=10).count()
    assert uncapped == 40 * 39 // 2
    assert capped == 0


def test_simhash_max_bucket_caps_hot_band_buckets(spark):
    """Templated corpus: identical texts share all 4 band values, so every
    (band, band_key) bucket holds the whole corpus and the banded
    self-join goes quadratic — max_bucket bounds the candidate set the
    same way the minhash guard does. A distinct-text pair (one planted
    near-dup) in cold buckets must survive the cap."""
    from jarvis_ocr_service_spark.functions.dedup import simhash_near_pairs

    rows = [(i, "the same exact templated page body repeated everywhere")
            for i in range(40)]
    # planted pair: distinct long texts, tiny Hamming distance
    base = " ".join(f"tok{j}" for j in range(120))
    rows += [(100, base), (101, base + " extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = simhash_near_pairs(df, max_hamming=3)
    capped = simhash_near_pairs(df, max_hamming=3, max_bucket=10)
    assert uncapped.count() == 40 * 39 // 2 + 1
    got = [(r.key_a, r.key_b) for r in capped.collect()]
    assert got == [(100, 101)]  # hot template buckets dropped, cold pair kept


def test_minhash_between_finds_cross_corpus_dups(spark):
    """Cross-corpus LSH: batch docs near a corpus doc pair up; unrelated
    batch docs don't; keys live in separate spaces (overlap allowed)."""
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_lsh_pairs_between,
    )

    base = " ".join(f"w{i}" for i in range(120))
    corpus = spark.createDataFrame(
        [(0, base), (1, "completely different text " * 20)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (0, base + " tail tweak"),            # near-dup of corpus 0
            (1, " ".join(f"z{i}" for i in range(120))),  # novel
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs_between(
        batch, corpus, verify_threshold=0.8
    ).collect()
    assert [(p.left_key, p.right_key) for p in pairs] == [(0, 0)]
    assert pairs[0].jaccard >= 0.8


def test_minhash_between_is_not_a_self_join(spark):
    """Corpus-side duplicates must NOT pair with each other — only
    batch-vs-corpus pairs come out (the whole point vs union+self-join)."""
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_lsh_pairs_between,
    )

    dup = "same words repeated " * 30
    corpus = spark.createDataFrame(
        [(10, dup), (11, dup)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(0, "unrelated fresh content " * 30)], "doc_id long, text string"
    )
    assert minhash_lsh_pairs_between(batch, corpus).count() == 0


def test_minhash_between_hot_bucket_guard(spark):
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_lsh_pairs_between,
    )

    t = "the same exact templated page body repeated everywhere"
    corpus = spark.createDataFrame(
        [(i, t) for i in range(40)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(0, t)], "doc_id long, text string")
    uncapped = minhash_lsh_pairs_between(batch, corpus, verify_threshold=0.9)
    capped = minhash_lsh_pairs_between(
        batch, corpus, verify_threshold=0.9, max_bucket=10
    )
    assert uncapped.count() == 40
    assert capped.count() == 0


# ---------------------------------------------------------------------------
# bucket-CC near-dup clusters (linear-edge mode)
# ---------------------------------------------------------------------------

def test_bucket_clusters_identical_docs_collapse(spark):
    """Identical texts have identical shingle sets -> identical
    signatures -> deterministic collision in every band; at
    verify_threshold=1.0 only all-components-equal edges survive."""
    from jarvis_ocr_service_spark.functions.dedup import minhash_bucket_clusters

    t = "the quick brown fox jumps over the lazy dog near the river"
    df = spark.createDataFrame(
        [(0, t), (1, t), (2, t), (3, "totally different spark shuffle talk here")],
        "doc_id long, text string",
    )
    got = {
        r.key: r.cluster
        for r in minhash_bucket_clusters(
            df, key_col="doc_id", verify_threshold=1.0
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0}  # doc 3 collides with nothing


def test_bucket_clusters_near_dups_and_transitivity(spark):
    """Bucket transitivity clusters near-dup chains; unrelated docs stay
    out (deterministic: seeded md5 double-hashing family)."""
    from jarvis_ocr_service_spark.functions.dedup import minhash_bucket_clusters

    got = {
        r.key: r.cluster
        for r in minhash_bucket_clusters(
            spark.createDataFrame(DOCS, "doc_id long, text string"),
            key_col="doc_id",
        ).collect()
    }
    # 0,1 exact dups; 2 and 5 one-word/suffix variants -> same cluster
    assert got[0] == got[1] == 0
    assert got.get(2) == 0 and got.get(5) == 0
    assert 3 not in got and 4 not in got


def test_bucket_clusters_mega_clique_is_linear_and_lossless(spark):
    """The discriminating scale case: a 60-doc identical clique. The
    pair route's hot-bucket guard (max_bucket=10) must DROP the bucket
    (quadratic pair mass -> zero recall under the cap); the bucket-CC
    route needs no guard — 59 member->rep edges, full collapse."""
    from jarvis_ocr_service_spark.functions.dedup import (
        minhash_bucket_clusters,
        minhash_lsh_pairs,
    )

    t = "the same exact templated page body repeated everywhere forever"
    df = spark.createDataFrame(
        [(i, t) for i in range(60)], "doc_id long, text string"
    )
    assert minhash_lsh_pairs(df, verify_threshold=0.9, max_bucket=10).count() == 0
    got = {
        r.key: r.cluster
        for r in minhash_bucket_clusters(
            df, key_col="doc_id", verify_threshold=1.0
        ).collect()
    }
    assert got == {i: 0 for i in range(60)}


def test_bucket_clusters_estimator_trims_false_bucket_mates(spark):
    """verify_threshold on the signature estimator drops member->rep
    edges whose estimated Jaccard is low even if one band collided."""
    from jarvis_ocr_service_spark.functions.dedup import minhash_bucket_clusters

    t = "the quick brown fox jumps over the lazy dog near the river"
    df = spark.createDataFrame(
        [(0, t), (1, t), (2, t + " bank today maybe")],
        "doc_id long, text string",
    )
    loose = {
        r.key for r in minhash_bucket_clusters(df, key_col="doc_id").collect()
    }
    strict = {
        r.key
        for r in minhash_bucket_clusters(
            df, key_col="doc_id", verify_threshold=1.0
        ).collect()
    }
    assert {0, 1} <= loose and 2 in loose  # variant collides in some band
    assert strict == {0, 1}  # estimator 1.0 keeps only identical sets


def test_bucket_clusters_no_dups_empty(spark):
    from jarvis_ocr_service_spark.functions.dedup import minhash_bucket_clusters

    df = spark.createDataFrame(
        [
            (0, "completely different content about spark query engines"),
            (1, "another unrelated document mentioning parquet and arrow"),
        ],
        "doc_id long, text string",
    )
    assert minhash_bucket_clusters(df, key_col="doc_id").count() == 0


class TestDedupNgramSpans:
    def _run(self, spark, rows, k=4, min_count=2):
        from jarvis_ocr_service_spark.functions.dedup import (
            dedup_ngram_spans,
        )

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r.key: (r.clean_text, r.n_tokens, r.n_removed)
            for r in dedup_ngram_spans(
                df, k=k, min_count=min_count
            ).collect()
        }

    def test_shared_passage_cut_from_every_copy(self, spark):
        shared = "alpha beta gamma delta"
        got = self._run(
            spark,
            [
                (0, f"intro one {shared} tail one"),
                (1, f"other opening {shared} closing words"),
                (2, "fully unique text with no repeats at all"),
            ],
        )
        # every-occurrence rule: the 4-token passage leaves BOTH docs
        assert got[0] == ("intro one tail one", 8, 4)
        assert got[1] == ("other opening closing words", 8, 4)
        assert got[2][2] == 0  # untouched
        assert got[2][0] == "fully unique text with no repeats at all"

    def test_internal_repeat_counts_as_duplication(self, spark):
        # the same window twice INSIDE one doc reaches min_count=2
        got = self._run(
            spark, [(0, "x y z w middle x y z w end")], k=4
        )
        assert got[0] == ("middle end", 10, 8)

    def test_short_docs_survive_whole_normalized(self, spark):
        got = self._run(
            spark,
            [(0, "  two   tokens "), (1, None), (2, "a b c")],
            k=4,
        )
        assert got[0] == ("two tokens", 2, 0)  # whitespace normalized
        assert got[1] == ("", 0, 0)
        assert got[2] == ("a b c", 3, 0)

    def test_overlapping_windows_union_not_double_count(self, spark):
        # 5 shared tokens => two overlapping 4-windows; covered union
        # is 5 positions, not 8
        shared = "p q r s t"
        got = self._run(
            spark,
            [(0, f"one {shared} two"), (1, f"three {shared} four")],
        )
        assert got[0] == ("one two", 7, 5)
        assert got[1] == ("three four", 7, 5)

    def test_case_sensitive_literal_matching(self, spark):
        got = self._run(
            spark,
            [(0, "Alpha Beta Gamma Delta"), (1, "alpha beta gamma delta")],
        )
        # recased copy is a DIFFERENT passage — nothing removed
        assert got[0][2] == 0 and got[1][2] == 0

    def test_min_count_threshold(self, spark):
        rows = [(i, "a b c d suffix%d" % i) for i in range(3)]
        assert all(
            v[2] == 4 for v in self._run(spark, rows, min_count=3).values()
        )
        assert all(
            v[2] == 0 for v in self._run(spark, rows, min_count=4).values()
        )

    def test_validation(self, spark):
        import pytest as _pt

        from jarvis_ocr_service_spark.functions.dedup import (
            dedup_ngram_spans,
        )

        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with _pt.raises(ValueError):
            dedup_ngram_spans(df, k=0)
        with _pt.raises(ValueError):
            dedup_ngram_spans(df, min_count=0)
