"""Cache lifetime: one scope owns every persisted frame.

Plan builders persist intermediates that the *returned* lazy plan reads
(e.g. ``minhash_lsh_pairs``' shingle frame, referenced from both sides of
its self-join), and iterative operators checkpoint each round. A library
function cannot know when its caller is done with the plan, so it cannot
free those frames itself. Instead every such frame is made through
:func:`persist` or :func:`local_checkpoint`, which register it in the
current :func:`cache_scope`; the scope releases all of them when it exits,
by exception too. Action sites open one scope per action: the CLI's
``prepare`` and each ``run_stream_prepare`` micro-batch. The current scope
lives in a ``contextvars.ContextVar``, so every thread (a ``foreachBatch``
callback thread, say) has its own.

Which of the two a builder uses follows one rule. A frame the builder
itself reads with an action (a scalar collect, a convergence test, a
gate's keep-set) is made with :func:`local_checkpoint`: it is materialized
once and every later plan reads it as a one-leaf ``LogicalRDD``, so
neither the following actions nor AQE's per-stage re-planning carry the
upstream plan again. :func:`persist` stays only for frames that just the
caller's lazy action reads; it keeps the full logical plan under the
cached frame, which costs nothing when one action plans it once. The
trade-off: a local checkpoint lives in executor storage and cannot be
recomputed after an executor is lost (the pagerank, BPE and k-means
rounds accept that already); the reliable ``checkpoint()`` needs a
checkpoint directory.

Outside any scope, frames land in a session-wide default scope and live
until :func:`release_cached` — the contract of callers that compose plans
by hand and release after their action (``bench.py``, perfbench).

Frames whose lifetime ends inside one operator (k-means' quantized base,
the connected-components and pagerank rounds, the BPE rounds) are freed
early with :func:`release`. ``DataFrame.unpersist()`` frees nothing after
``localCheckpoint`` (the checkpointed RDD is not in the cache manager), so
:func:`release` unpersists a checkpoint's ``LogicalRDD`` instead.
"""

from __future__ import annotations

from contextlib import contextmanager, suppress
from contextvars import ContextVar
from typing import Dict, Iterator, Optional, Tuple

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# id(frame) -> (frame, made by localCheckpoint), in registration order.
# Every access is one dict operation, atomic under the interpreter lock, so
# threads sharing the session default need no lock.
_Held = Dict[int, Tuple[DataFrame, bool]]

_session_default: _Held = {}
_current: ContextVar[Optional[_Held]] = ContextVar("cache_scope", default=None)


def _held() -> _Held:
    held = _current.get()
    return _session_default if held is None else held


def _free(df: DataFrame, checkpoint: bool) -> None:
    if checkpoint:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    else:
        df.unpersist()


def _release_all(held: _Held) -> int:
    """Free everything ``held`` holds, newest first (a frame derived from
    an older cached one goes before it); returns the count."""
    n = 0
    while True:
        try:
            _, (df, checkpoint) = held.popitem()
        except KeyError:
            return n
        n += 1
        with suppress(Py4JError):  # a stopped session has nothing left to free
            _free(df, checkpoint)


@contextmanager
def cache_scope() -> Iterator[None]:
    """Release every frame persisted or checkpointed inside the block when
    the block exits, normally or by exception."""
    held: _Held = {}
    token = _current.set(held)
    try:
        yield
    finally:
        _current.reset(token)
        _release_all(held)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the current scope."""
    df = df.persist()
    _held()[id(df)] = (df, False)
    return df


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` (materialized, lineage cut),
    owned by the current scope."""
    cp = df.localCheckpoint(eager=True)
    _held()[id(cp)] = (cp, True)
    return cp


def release(df: DataFrame) -> None:
    """Free ``df`` now and drop it from the current scope; a frame the
    scope does not hold is left alone."""
    entry = _held().pop(id(df), None)
    if entry is not None:
        _free(*entry)


def release_cached(df: Optional[DataFrame]) -> int:
    """Release everything the current scope holds (outside any scope, the
    session default) and return how many frames that was. ``df``, the plan
    whose action just ran, is not consulted: its frames are among them."""
    return _release_all(_held())
