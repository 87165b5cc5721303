"""Multimodal: header decode real; PNG pixel stats REAL (from-scratch
codec); WAV features real."""

import pytest

from jarvis_ocr_service_spark.functions.multimodal import with_image_meta
from jarvis_ocr_service_spark.sources.pages import synthesize_pages


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, 50, num_partitions=2).cache()


def test_image_meta_decode(pages):
    out = with_image_meta(pages).collect()
    assert len(out) == 50
    pngs = [r for r in out if r.image_meta.format == "png"]
    assert pngs  # class 3 rows
    for r in pngs:
        assert r.image_meta.width == 1 and r.image_meta.height == 1
        assert r.image_meta.bit_depth == 8 and r.image_meta.color_type == 2
    non_images = [r for r in out if r.image_meta.format is None]
    assert all(r.image_meta.width is None for r in non_images)
    assert all(r.image_meta.n_bytes == (len(r.html) if r.html else 0) for r in out)


def test_pixel_stats_real(pages):
    from jarvis_ocr_service_spark.functions.multimodal import with_pixel_stats

    out = with_pixel_stats(pages).collect()
    png = [r for r in out if r.pixel_stats.px_width is not None]
    assert png  # class-3 rows decoded
    for r in png:
        assert (r.pixel_stats.px_width, r.pixel_stats.px_height,
                r.pixel_stats.channels) == (1, 1, 3)
        assert r.pixel_stats.mean_intensity == 255.0  # white pixel
    assert any(r.pixel_stats.px_width is None for r in out)  # non-PNG rows


def test_audio_features_real_wav_decode(spark):
    """Real WAV decode (stdlib wave): header metadata + RMS; non-audio
    payloads yield a null struct, never a task failure."""
    from jarvis_ocr_service_spark.functions.multimodal import (
        decode_wav_features,
        make_test_wav,
        with_audio_features,
    )

    w1 = make_test_wav(440.0, 8000)                 # 1s A4 tone
    w2 = make_test_wav(220.0, 4000, amplitude=0.1)  # 0.5s quiet tone
    df = spark.createDataFrame(
        [(0, bytearray(w1)), (1, bytearray(w2)), (2, b"<html>nope</html>"),
         (3, None)],
        "i long, html binary",
    )
    got = {r.i: r.audio_features for r in with_audio_features(df).collect()}
    assert (got[0].sample_rate, got[0].channels, got[0].bits,
            got[0].n_frames, got[0].duration_s) == (8000, 1, 16, 8000, 1.0)
    assert got[1].duration_s == 0.5
    assert got[0].rms > got[1].rms > 0  # louder tone has higher RMS
    assert got[2].sample_rate is None and got[3].sample_rate is None
    # Spark-side values match the scalar decode exactly
    exp = decode_wav_features(w1)
    assert got[0].rms == exp["rms"]
