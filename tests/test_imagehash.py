"""pHash: pinned perceptual hashing + banded image near-dup pairs
(with_phash signatures through dedup.hamming_band_pairs)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.dedup import hamming_band_pairs
from jarvis_ocr_service_spark.functions.imagehash import phash64, with_phash
from jarvis_ocr_service_spark.operators.png_codec import encode_png_pixels


def _gradient(c: int, w: int = 24, h: int = 16) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    return ((x * 7 + y * 11 + c * 37) % 256).astype(np.uint8)


def _png(arr: np.ndarray) -> bytes:
    return encode_png_pixels(arr)


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_identical_and_perturbed_images():
    base = _gradient(0)
    same = phash64(_png(base))
    assert same == phash64(_png(base.copy()))
    # tiny perturbation: a few pixels nudged -> small Hamming distance
    pert = base.copy()
    pert[3, 5] = (int(pert[3, 5]) + 9) % 256
    pert[10, 20] = (int(pert[10, 20]) + 9) % 256
    d_small = _hamming(same, phash64(_png(pert)))
    assert d_small <= 8
    # structurally different content -> far
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, size=base.shape, dtype=np.uint16).astype(
        np.uint8
    )
    d_far = _hamming(same, phash64(_png(noise)))
    assert d_far > 16
    assert d_small < d_far


def test_rgb_and_gray_luma_paths():
    g = _gradient(1)
    rgb = np.stack([g, g, g], axis=-1)
    # pure gray replicated to RGB: integer luma of (v,v,v) == v
    assert phash64(_png(g)) == phash64(_png(rgb))


def test_undecodable_yields_null():
    assert phash64(b"") is None
    assert phash64(b"\xff\xd8\xffnot-a-png") is None


def _phash_pairs(df, **kw):
    sigs = (
        with_phash(df, out_col="sig")
        .filter(F.col("sig").isNotNull())
        .select(F.col("doc_id").alias("k"), "sig")
    )
    return hamming_band_pairs(sigs, **kw)


def test_with_phash_and_pairs_match_brute_force(spark):
    # 5 base classes x 4 copies; copy j of class c perturbs j pixels
    rows = []
    for c in range(5):
        base = _gradient(c)
        for j in range(4):
            img = base.copy()
            for p in range(j):
                img[p, p] = (int(img[p, p]) + 11) % 256
            rows.append((c * 10 + j, bytearray(_png(img))))
    rows.append((99, bytearray(b"not an image")))
    df = spark.createDataFrame(rows, "doc_id long, html binary")

    hashed = {r.doc_id: r.phash for r in with_phash(df).collect()}
    assert hashed[99] is None
    for doc_id, payload in rows[:-1]:
        assert hashed[doc_id] == phash64(bytes(payload))

    max_h = 10
    want = sorted(
        (a, b, _hamming(hashed[a], hashed[b]))
        for a in hashed
        for b in hashed
        if a < b
        and hashed[a] is not None
        and hashed[b] is not None
        and _hamming(hashed[a], hashed[b]) <= max_h
    )
    got = sorted(
        (r.key_a, r.key_b, r.hamming)
        for r in _phash_pairs(df, max_hamming=max_h).collect()
    )
    assert got == want
    assert len(got) > 0  # within-class copies must actually pair


def test_phash_pairs_hot_bucket_guard(spark):
    """40 identical images: every band bucket is hot; the cap drops the
    quadratic candidate set (same guard as simhash/minhash)."""
    payload = bytearray(_png(_gradient(0)))
    df = spark.createDataFrame(
        [(i, payload) for i in range(40)], "doc_id long, html binary"
    )
    uncapped = _phash_pairs(df, max_hamming=4).count()
    capped = _phash_pairs(df, max_hamming=4, max_bucket=10).count()
    assert uncapped == 40 * 39 // 2
    assert capped == 0
