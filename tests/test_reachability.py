"""Every public top-level library function is reachable from a real entry
point, or it is deleted.

AST scan of ``jarvis_ocr_service_spark/``. Roots: ``__spark_entry__.py``,
the CLI (``jarvis_ocr_service_spark/__main__.py``), ``bench*.py``,
``perfbench/*.py``, and every library module's top-level statements other
than defs (they run on import). A top-level def or class is reachable when
a reachable body names it: a Name, an Attribute, an import alias, or an
identifier-shaped string constant (getattr-style lookups). Names resolve
by bare name across modules, which only over-approximates reachability, so
the scan never flags a function some entry point really calls.

``ALLOWED`` lists the public functions no entry point reaches, and only two
kinds: slow references that tests pin a fast path against, and the
run-report inputs. Reference contracts nothing produces and API only
tests called are deleted, not listed. The list may only shrink: a name
that is deleted or becomes reachable must leave it.
"""

from __future__ import annotations

import ast
import inspect
from pathlib import Path
from typing import Dict, Set, Tuple

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "jarvis_ocr_service_spark"

# Run-report inputs that no entry point reads yet; wiring or deleting them
# is one decision, made with the run report.
_RUN_REPORT_INPUTS = {
    "error_counters": "run-report input (verify recipe)",
    "manifest_counters": "run-report input",
}
# Slow references that kept tests pin a fast path against.
_SLOW_REFERENCES = {
    "parse_blocks_stdlib": "reference for extract_html.parse_blocks",
    "simhash64_one": "reference for the vectorized simhash stage",
    "truncate_text": "reference for textops.truncate_with_len",
    "stopword_hits_from_toks": "reference for the regexp_count stopword counters",
    "token_count_col": "standalone form of the staged with_text_stats",
    "stopword_hits_col": "standalone form of the staged with_text_stats",
    "lang_id_col": "standalone form of the staged with_text_stats",
    "quality_score_col": "standalone form of the staged with_text_stats",
}
ALLOWED: Dict[str, str] = {**_SLOW_REFERENCES, **_RUN_REPORT_INPUTS}


def _names(node: ast.AST) -> Set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out.add(n.value)
    return out


def _scan() -> Tuple[Dict[str, str], Set[str]]:
    """-> (public top-level function name -> module path, reachable names)."""
    roots: Set[str] = set()
    root_files = [
        REPO / "__spark_entry__.py",
        PKG / "__main__.py",
        *REPO.glob("bench*.py"),
        *(REPO / "perfbench").glob("*.py"),
    ]
    for f in root_files:
        roots |= _names(ast.parse(f.read_text()))

    public: Dict[str, str] = {}
    body_names: Dict[str, Set[str]] = {}
    for f in sorted(PKG.rglob("*.py")):
        for st in ast.parse(f.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                body_names.setdefault(st.name, set()).update(_names(st) - {st.name})
                if not isinstance(st, ast.ClassDef) and not st.name.startswith("_"):
                    public[st.name] = str(f.relative_to(REPO))
            else:
                roots |= _names(st)

    reachable: Set[str] = set()
    stack = [n for n in roots if n in body_names]
    while stack:
        name = stack.pop()
        if name not in reachable:
            reachable.add(name)
            stack.extend((body_names[name] & body_names.keys()) - reachable)
    return public, reachable


def test_no_public_function_is_test_only():
    public, reachable = _scan()
    dead = {
        name: mod
        for name, mod in public.items()
        if name not in reachable and name not in ALLOWED
    }
    assert not dead, (
        "public functions no entry point reaches — wire them to one or "
        f"delete them: {sorted(dead.items())}"
    )


def test_allowlist_only_shrinks():
    public, reachable = _scan()
    stale = sorted(n for n in ALLOWED if n not in public or n in reachable)
    assert not stale, f"deleted or now reachable — drop from ALLOWED: {stale}"


def test_slow_references_are_called_from_tests():
    """A slow reference is allowed only because a test pins a fast path
    against it, so some other test module must call it."""
    called: Set[str] = set()
    for f in (REPO / "tests").glob("*.py"):
        if f.name != Path(__file__).name:
            called |= {
                n.func.id if isinstance(n.func, ast.Name) else n.func.attr
                for n in ast.walk(ast.parse(f.read_text()))
                if isinstance(n, ast.Call)
                and isinstance(n.func, (ast.Name, ast.Attribute))
            }
    uncalled = sorted(set(_SLOW_REFERENCES) - called)
    assert not uncalled, f"slow references no test calls: {uncalled}"


def test_extraction_chain_takes_only_pdf_mode():
    """The entry points pass the pages input plus ``pdf_mode`` and nothing
    else, so the extraction chain takes nothing else: a per-request switch
    would be threaded through every layer and set by no caller."""
    from jarvis_ocr_service_spark.operators.cascade import extract_document
    from jarvis_ocr_service_spark.operators.udfs import make_extract_map_fn
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

    for fn, params in (
        (run_pipeline, ["pages", "pdf_mode"]),
        (make_extract_map_fn, ["pdf_mode"]),
        (extract_document, ["payload", "lang", "pdf_mode"]),
    ):
        sig = inspect.signature(fn).parameters
        optional = [n for n, p in sig.items() if p.default is not p.empty]
        assert (list(sig), optional) == (params, ["pdf_mode"]), fn.__name__


def test_incremental_runners_take_only_what_the_cli_passes():
    """The resume, stream and stream-prepare commands are the only callers
    of their runners, so each runner takes exactly what its command
    passes, in this order."""
    from jarvis_ocr_service_spark.plans.checkpoint import run_checkpointed
    from jarvis_ocr_service_spark.streaming.stream import (
        run_stream,
        run_stream_prepare,
    )

    head = ["spark", "input_path", "output_path"]
    for fn, params in (
        (run_checkpointed, head + ["manifest_path", "pdf_mode", "files_per_batch"]),
        (run_stream, head + ["checkpoint_path", "pdf_mode"]),
        (run_stream_prepare, head + [
            "checkpoint_path", "watermark", "min_quality", "pdf_mode",
            "neardup_against_committed", "neardup_threshold",
        ]),
    ):
        assert list(inspect.signature(fn).parameters) == params, fn.__name__
