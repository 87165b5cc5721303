"""Multimodal columns: opaque binary payloads + typed metadata.

Real, tested Spark stages for image and audio columns:

* ``with_image_meta`` — PNG IHDR / JPEG / GIF header decode into a typed
  struct (fully real, stdlib).
* ``with_pixel_stats`` — real pixel features (dims/channels/mean
  intensity) for PNG payloads via the from-scratch codec
  (operators/png_codec: zlib + numpy, all five scanline filters), null
  struct otherwise.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from jarvis_ocr_service_spark.operators.extract_image import (
    decode_png_meta,
    image_format,
)

IMAGE_META_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("bit_depth", T.LongType(), True),
        T.StructField("color_type", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def _meta_of(payload) -> dict:
    if payload is None:
        payload = b""
    payload = bytes(payload)
    fmt = image_format(payload)
    width = height = bit_depth = color_type = None
    if fmt == "png":
        meta = decode_png_meta(payload)
        if meta:
            width, height, bit_depth, color_type = meta
    return {
        "format": fmt,
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "n_bytes": len(payload),
    }


def with_image_meta(df: DataFrame, binary_col: str = "html") -> DataFrame:
    """Append an ``image_meta`` struct column decoded from binary headers.

    One Arrow stage; passthrough of all other columns.
    """
    schema = T.StructType(df.schema.fields + [T.StructField("image_meta", IMAGE_META_TYPE)])
    cols = df.columns

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b[cols].copy()
            out["image_meta"] = [_meta_of(p) for p in b[binary_col]]
            yield out

    return df.mapInPandas(decode, schema=schema)


PIXEL_STATS_TYPE = T.StructType(
    [
        T.StructField("px_width", T.LongType(), True),
        T.StructField("px_height", T.LongType(), True),
        T.StructField("channels", T.LongType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
    ]
)


def with_pixel_stats(df: DataFrame, binary_col: str = "html") -> DataFrame:
    """Append real pixel features (dims, channels, mean intensity) decoded
    from PNG payloads; null struct fields for non-PNG/undecodable rows.
    One Arrow stage, passthrough of all other columns."""
    from jarvis_ocr_service_spark.operators.png_codec import png_pixel_stats

    schema = T.StructType(
        df.schema.fields + [T.StructField("pixel_stats", PIXEL_STATS_TYPE)]
    )
    cols = df.columns

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b[cols].copy()
            stats = []
            for p in b[binary_col]:
                try:
                    w, h, ch, mean = png_pixel_stats(bytes(p or b""))
                    stats.append(
                        {"px_width": w, "px_height": h, "channels": ch,
                         "mean_intensity": mean}
                    )
                except ValueError:
                    stats.append(
                        {"px_width": None, "px_height": None,
                         "channels": None, "mean_intensity": None}
                    )
            out["pixel_stats"] = stats
            yield out

    return df.mapInPandas(decode, schema=schema)


AUDIO_FEATURES_TYPE = T.StructType(
    [
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("channels", T.LongType(), True),
        T.StructField("bits", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def make_test_wav(
    freq_hz: float, n_samples: int, sample_rate: int = 8000,
    amplitude: float = 0.5,
) -> bytes:
    """Deterministic 16-bit mono PCM WAV (pure function — fixture-grade)."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(sample_rate)
        frames = b"".join(
            struct.pack(
                "<h",
                int(32767 * amplitude * math.sin(2 * math.pi * freq_hz * i / sample_rate)),
            )
            for i in range(n_samples)
        )
        wv.writeframes(frames)
    return buf.getvalue()


def decode_wav_features(payload: bytes) -> dict:
    """REAL audio decode for RIFF/WAV payloads (stdlib ``wave``): header
    metadata + RMS amplitude over the PCM samples (16-bit PCM; other
    widths yield header fields with null rms). Raises ValueError for
    non-WAV payloads."""
    import io
    import math
    import struct
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(bytes(payload or b"")), "rb") as wv:
            rate = wv.getframerate()
            ch = wv.getnchannels()
            width = wv.getsampwidth()
            n = wv.getnframes()
            rms = None
            if width == 2 and n:
                raw = wv.readframes(n)
                samples = np.frombuffer(
                    raw, dtype="<i2", count=len(raw) // 2
                ).astype(np.int64)
                # exact integer sum of squares (int64 dot: max 2^30 per
                # sample x ~2^33 samples stays under 2^63), then the same
                # pinned double expression as before — bit-identical rms
                rms = math.sqrt(int(samples @ samples) / len(samples))
    except (wave.Error, EOFError, struct.error) as e:
        raise ValueError(f"not a decodable WAV payload: {e}") from e
    return {
        "sample_rate": rate,
        "channels": ch,
        "bits": 8 * width,
        "n_frames": n,
        "duration_s": n / rate if rate else None,
        "rms": rms,
    }


def with_audio_features(df: DataFrame, binary_col: str = "html") -> DataFrame:
    """Append real audio features decoded from WAV payloads (stdlib wave —
    no external audio libs needed); null struct fields for non-WAV rows.
    One Arrow stage, passthrough of all other columns. Compressed formats
    (mp3/ogg) would need a codec backend — not present here, rows yield
    nulls rather than task failures."""
    schema = T.StructType(
        df.schema.fields + [T.StructField("audio_features", AUDIO_FEATURES_TYPE)]
    )
    cols = df.columns
    null_row = {
        "sample_rate": None, "channels": None, "bits": None,
        "n_frames": None, "duration_s": None, "rms": None,
    }

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b[cols].copy()
            feats = []
            for p in b[binary_col]:
                try:
                    feats.append(decode_wav_features(p))
                except ValueError:
                    feats.append(dict(null_row))
            out["audio_features"] = feats
            yield out

    return df.mapInPandas(decode, schema=schema)
