"""Tracked DataFrame persists — a release hook for operator-internal caches.

``track_persist`` persists an expensive intermediate (shingle frames,
blocked projections, a global rank's bucketed frame).  Freeing one is
always safe: materialized results keep their values, and un-materialized
ones recompute from lineage to the same answer.  ``release_persisted()``
frees them all; ``persist_scope()`` frees those that THIS thread tracks
inside a ``with`` block on exit, so a loop that rebuilds queries (the
ResultCache-TTL dashboard, a foreachBatch trigger) holds storage for one
build, not for the session.  Frames that must outlive every per-batch
release (a stream's corpus side) are plain ``.persist()`` calls owned by
their factory.  The registry is thread-safe; scopes are thread-local, so
concurrent builds never release each other's frames.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_PERSISTED: list[DataFrame] = []
_TL = threading.local()


def _scopes() -> list[list[DataFrame]]:
    if not hasattr(_TL, "scopes"):
        _TL.scopes = []
    return _TL.scopes


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` as a releasable cache: owned by the innermost
    ``persist_scope()`` of this thread, else by the global registry."""
    handle = df.persist()
    scopes = _scopes()
    if scopes:
        scopes[-1].append(handle)
    else:
        with _LOCK:
            _PERSISTED.append(handle)
    return handle


@contextlib.contextmanager
def persist_scope():
    """Unpersist on exit every frame this thread tracks inside the block."""
    scope: list[DataFrame] = []
    _scopes().append(scope)
    try:
        yield scope
    finally:
        _scopes().pop()
        for h in scope:
            h.unpersist()


def release_persisted() -> None:
    """Unpersist every globally tracked frame and drain this thread's open
    scopes (a per-batch release inside a scope frees each batch's frames)."""
    with _LOCK:
        handles = _PERSISTED[:]
        _PERSISTED.clear()
    for scope in _scopes():
        handles.extend(scope)
        scope.clear()
    for h in handles:
        h.unpersist()
