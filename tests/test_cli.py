"""CLI drive: every extraction command honours ``--pdf-mode``."""

import pytest
from pyspark.sql import functions as F

from jarvis_ocr_service_spark.__main__ import main
from jarvis_ocr_service_spark.session import RECOMMENDED_CONF

ROWS = 40  # content class 2 (PDF) is every tenth page


@pytest.fixture
def session_conf(spark):
    """main() reuses the test session and applies the engine's recommended
    SQL conf to it; put the session's own values back afterwards."""
    keys = [k for k in RECOMMENDED_CONF if k.startswith("spark.sql.")]
    saved = {k: spark.conf.get(k, None) for k in keys}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _pdf_codes(spark, path):
    rows = spark.read.parquet(path).filter(F.col("content_kind") == "pdf")
    return [r.error_code for r in rows.select("error_code").collect()]


def test_resume_and_stream_honour_pdf_mode(spark, session_conf, tmp_path, capsys):
    pages = str(tmp_path / "pages")
    assert main(["synth", "--output", pages, "--rows", str(ROWS)]) == 0

    out = str(tmp_path / "resumed")
    assert main([
        "resume", "--input", pages, "--output", out,
        "--manifest", str(tmp_path / "manifest"), "--pdf-mode", "reject",
    ]) == 0
    assert f"committed {ROWS} documents" in capsys.readouterr().out
    assert _pdf_codes(spark, out) == ["unsupported_media"] * (ROWS // 10)

    streamed = str(tmp_path / "streamed")
    assert main([
        "stream", "--input", pages, "--output", streamed,
        "--checkpoint", str(tmp_path / "checkpoint"), "--pdf-mode", "reject",
    ]) == 0
    assert _pdf_codes(spark, streamed) == ["unsupported_media"] * (ROWS // 10)
