"""Arrow-batched Spark stages wrapping the pure-Python operators.

Design: ONE ``mapInPandas`` stage runs the whole extract -> normalize ->
validate -> truncate cascade per Arrow batch. Rationale (vs. the staged
filter-and-union layout sketched in SURVEY.md §4.2): every tier here is a
local pure function, so a second Spark stage per tier would buy nothing
and cost k JVM<->Python Arrow crossings, k× input decode, and a union
shuffle. The fused stage preserves the reference's *per-row* short-circuit
exactly (worker.py:151-239) with a single crossing.

All functions keep per-row failure isolation: data errors become error
rows, never task failures (reference P8, worker.py:82-141).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from jarvis_ocr_service_spark.operators.cascade import PDF_MODE_PARSE, extract_document

_RESULT_COLS = [
    "content_kind",
    "text",
    "truncated",
    "language",
    "confidence",
    "text_len",
    "is_valid",
    "tier",
    "validation_reason",
    "error_code",
    "error_message",
    "spans",
]


def make_extract_map_fn(pdf_mode: str = PDF_MODE_PARSE):
    """Build the fused-cascade ``mapInPandas`` function.

    Input batches must carry ``url``, ``warc_ts``, ``html`` (binary) and
    ``lang``; output matches schema.RESULTS_SCHEMA order.
    The closure is constructed on the driver once and shipped to executors;
    per-executor state (none needed today — extractors are stateless pure
    functions) would hang off module-level lazy singletons, mirroring the
    reference's lazy provider init (easyocr_provider.py:25-33).
    """

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            rows = [
                extract_document(
                    payload,
                    lang if isinstance(lang, str) and lang else "en",
                    pdf_mode=pdf_mode,
                )
                for payload, lang in zip(pdf["html"], pdf["lang"])
            ]
            out = pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "warc_ts": pdf["warc_ts"].values,
                    "lang": pdf["lang"].values,
                },
                index=range(n),
            )
            for col in _RESULT_COLS:
                if col == "spans":
                    # pyarrow needs dicts (not tuples) for struct arrays
                    out[col] = [
                        [{"start": s, "end": e, "tag": t} for (s, e, t) in r[col]]
                        for r in rows
                    ]
                else:
                    out[col] = [r[col] for r in rows]
            yield out

    return extract_batches

