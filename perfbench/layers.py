"""In-process operator timings for the traced run.

Each public operator the cascade calls is timed on one thread over a fixed
sample of the workload's pages (rows 0..LAYER_SAMPLE-1 of the same seed),
with the inputs it sees inside the cascade. Every figure is the median of
REPS passes over the sample.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from typing import Callable, Dict, List

REPS = 3


def _per_call_us(fn: Callable, inputs: List, fresh: Callable = None) -> float:
    """Median over REPS passes of the mean microseconds per call;
    ``fresh()``, when given, rebuilds the inputs before each pass."""
    if not inputs:
        return 0.0
    passes = []
    for _ in range(REPS):
        if fresh is not None:
            inputs = fresh()
        t0 = time.perf_counter_ns()
        for x in inputs:
            fn(x)
        passes.append((time.perf_counter_ns() - t0) / 1e3 / len(inputs))
    return statistics.median(passes)


def operator_timings(n: int, seed: int) -> Dict[str, float]:
    from jarvis_ocr_service_spark.operators import dispatch
    from jarvis_ocr_service_spark.operators.cascade import extract_document
    from jarvis_ocr_service_spark.operators.charset import decode_payload
    from jarvis_ocr_service_spark.operators.extract_html import (
        extract_main_blocks,
        extract_raw_blocks,
        parse_blocks,
    )
    from jarvis_ocr_service_spark.operators.extract_pdf import extract_pdf_text
    from jarvis_ocr_service_spark.operators.textops import (
        normalize_text,
        truncate_with_len,
    )
    from jarvis_ocr_service_spark.operators.udfs import make_extract_map_fn
    from jarvis_ocr_service_spark.operators.validate import validate_text
    from jarvis_ocr_service_spark.sources.pages import N_CLASSES, make_pages_pdf

    pages = make_pages_pdf(range(n), seed)
    payloads = list(pages["html"])
    langs = list(pages["lang"])
    kinds = [dispatch.sniff_kind(p or b"") for p in payloads]

    def cascade_pass():
        for payload, lang in zip(payloads, langs):
            extract_document(payload, lang)

    # the whole cascade, timed per pass like the batch below, and per
    # document for each content class
    cascade_s = _per_call_us(lambda _: cascade_pass(), [None]) / 1e6
    per_class: Dict[int, List[int]] = defaultdict(list)
    for _ in range(REPS):
        for i, (payload, lang) in enumerate(zip(payloads, langs)):
            t0 = time.perf_counter_ns()
            extract_document(payload, lang)
            per_class[i % N_CLASSES].append(time.perf_counter_ns() - t0)

    # one Arrow-sized batch through the mapInPandas function
    batch_fn = make_extract_map_fn()

    def batch_pass():
        for _out in batch_fn(iter([pages])):
            pass

    batch_s = _per_call_us(lambda _: batch_pass(), [None]) / 1e6

    # the stages inside the cascade, fed what the cascade feeds them
    html = [decode_payload(p) for p, k in zip(payloads, kinds) if k == dispatch.KIND_HTML]
    pdfs = [p for p, k in zip(payloads, kinds) if k == dispatch.KIND_PDF]
    raw = [decode_payload(p) for p, k in zip(payloads, kinds) if k == dispatch.KIND_TEXT]
    raw += [extract_pdf_text(p)[0] for p in pdfs]
    normalized = [normalize_text(t) for t in raw]
    normalized += [extract_raw_blocks(parse_blocks(h))[0] for h in html]
    valid = [t for t in normalized if validate_text(t)[0]]

    def fresh_blocks():
        return [parse_blocks(h) for h in html]

    out = {
        "operators.cascade.docs_per_s_1core": n / cascade_s,
        "operators.dispatch.sniff_kind_us": _per_call_us(
            lambda p: dispatch.sniff_kind(p or b""), payloads
        ),
        "operators.extract_html.parse_blocks_us": _per_call_us(parse_blocks, html),
        # blocks cache their normalized text, so each pass gets fresh ones
        "operators.extract_html.extract_raw_blocks_us": _per_call_us(
            extract_raw_blocks, html, fresh_blocks
        ),
        "operators.extract_html.extract_main_blocks_us": _per_call_us(
            extract_main_blocks, html, fresh_blocks
        ),
        "operators.extract_pdf.extract_pdf_text_us": _per_call_us(extract_pdf_text, pdfs),
        "operators.textops.normalize_text_us": _per_call_us(normalize_text, raw),
        "operators.textops.truncate_with_len_us": _per_call_us(truncate_with_len, valid),
        "operators.validate.validate_text_us": _per_call_us(validate_text, normalized),
        "operators.udfs.batch_ms": batch_s * 1e3,
        "operators.udfs.assemble_share": (batch_s - cascade_s) / batch_s,
    }
    for cls in range(N_CLASSES):
        ns = per_class[cls]
        out[f"operators.cascade.us_per_doc.c{cls}"] = statistics.median(ns) / 1e3
    return out
