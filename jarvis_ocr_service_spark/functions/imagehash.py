"""Perceptual image hashing (pHash) — the image-side twin of the text
near-dup signatures, built on the repo's own
from-scratch PNG codec (operators/png_codec) so the whole path runs
with stdlib + numpy only.

Algorithm (PINNED — the shared pure function is what the executors, the
tests, and the fixture-VALUES oracle all call):

  1. decode PNG -> (H, W, C) uint8 (png_codec.decode_png_pixels;
     undecodable / non-PNG -> null hash);
  2. integer luma: C>=3 -> (299*R + 587*G + 114*B) // 1000, C in (1, 2)
     -> first channel (gray / gray+alpha);
  3. deterministic nearest resample to 32x32
     (png_codec.resize_nearest — center-of-pixel mapping);
  4. 2-D DCT-II with a QUANTIZED cosine matrix: round(cos * 2^14) as
     int64, so the transform is integer matmul end-to-end. This is not
     pedantry — the float64 form produced a last-ulp difference between
     the driver and a Spark python worker (different BLAS kernel/thread
     summation order), flipping one hash bit; integer matmul uses
     numpy's own loops, is BLAS-free, and is bit-identical in every
     process (max |coeff| ~ 2^46, far inside int64);
  5. take the low-frequency 8x8 block, median over the 63 non-DC
     coefficients (odd count -> an exact integer order statistic, no
     averaging);
  6. bit i = coeff_i > median, packed little-endian into a SIGNED int64
     (Spark LongType), i in 0..63 (DC included — it exceeds the median
     for any non-degenerate image).

Image near-dup search feeds ``with_phash`` output, as (k, sig), into
dedup.hamming_band_pairs: the pigeonhole-banded self-join (complete
recall at bands = max_hamming + 1) with the opt-in ``max_bucket``
hot-bucket guard — the SimHash text near-dup shape, one shuffle on
(band, band_key).

Reference parity note: the reference service treats images as OCR
input only; this is part of the training-data layer (SURVEY §2
"beyond the reference").
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_DCT_N = 32
_dct_m: Optional[np.ndarray] = None


_DCT_SCALE = 1 << 14


def _dct_matrix() -> np.ndarray:
    global _dct_m
    if _dct_m is None:
        k = np.arange(_DCT_N, dtype=np.float64)[:, None]
        n = np.arange(_DCT_N, dtype=np.float64)[None, :]
        cos = np.cos(np.pi * (2 * n + 1) * k / (2 * _DCT_N))
        # quantize ONCE; everything downstream is exact integer math
        _dct_m = np.round(cos * _DCT_SCALE).astype(np.int64)
    return _dct_m


def phash64(payload: bytes) -> Optional[int]:
    """64-bit perceptual hash of a PNG payload (module docstring);
    None for non-PNG / undecodable bytes."""
    from jarvis_ocr_service_spark.operators.png_codec import (
        decode_png_pixels,
        resize_nearest,
    )

    try:
        arr = decode_png_pixels(bytes(payload or b""))
    except ValueError:
        return None
    if arr.shape[2] >= 3:
        a = arr.astype(np.int64)
        gray = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    else:
        gray = arr[:, :, 0].astype(np.int64)
    g32 = resize_nearest(gray, _DCT_N, _DCT_N)  # int64 2-D
    m = _dct_matrix()
    d = m @ g32 @ m.T  # integer matmul — exact, process-independent
    flat = d[:8, :8].ravel()
    med = int(np.median(flat[1:]))  # 63 values -> exact order statistic
    sig = 0
    for i in range(64):
        if flat[i] > med:
            sig |= 1 << i
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def with_phash(
    df: DataFrame, binary_col: str = "html", out_col: str = "phash"
) -> DataFrame:
    """Append the 64-bit pHash (LongType; null for undecodable rows).
    One Arrow stage, passthrough of all other columns."""
    schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.LongType(), True)]
    )
    cols = df.columns

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b[cols].copy()
            # nullable Int64, NOT a bare list: pandas infers float64 for
            # int+None lists, silently rounding 64-bit hashes at the
            # 53-bit mantissa (measured: one flipped low bit per batch
            # that contained any undecodable row)
            out[out_col] = pd.array(
                [phash64(p) for p in b[binary_col]], dtype="Int64"
            )
            yield out

    return df.mapInPandas(decode, schema=schema)
