"""TTL result caching (T10).

The reference caches rendered query results with Streamlit's
``@st.cache_data(ttl=600)`` (`Real Final APP/Dashboard_Historical_Final.py:
427`) and keeps per-table "last updated" stamps (`live_updates_duckdb.py:
171-209`) so repeated dashboard hits don't recompute.  The Spark-native
analogue is a TTL memo over *materialized* results: within the TTL every
caller gets the persisted snapshot (jobs read cached blocks — no recompute,
no rescan); after expiry the next call rebuilds, swaps the snapshot in, and
unpersists the stale one.

Scale note: the cache holds DataFrame *handles*, not driver-side rows —
a cached result occupies executor storage memory (spill-to-disk persist
level), so cache entries should be dashboard-sized aggregates (the same
things the reference cached), never raw scans.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from data_engineering_project_utn_spark.persist import persist_scope


class ResultCache:
    """TTL-bounded memo of materialized query results.

    ``clock`` is injectable (tests use a fake clock; production uses
    ``time.monotonic`` — wall-clock jumps must not mass-expire entries).

    Thread-safe for the dashboard-serving use case: a registry lock guards
    the entry map and per-key build locks serialize rebuilds, so concurrent
    ``get()`` on an expired key builds once (the losers of the build race
    return the winner's snapshot) and a snapshot is never double-unpersisted.
    Rebuilds of *different* keys proceed in parallel.

    Expiry semantics: a reader that obtained a snapshot before it expired
    may still run jobs against it after a later ``get()``/``invalidate()``
    unpersists it — those jobs silently recompute from lineage (correct
    values, cold cost).  That is inherent to handing out live DataFrame
    handles; hold results only per-request.
    """

    def __init__(
        self,
        ttl_seconds: float = 600.0,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.ttl = ttl_seconds
        self._clock = clock
        self._entries: dict[str, tuple[float, DataFrame]] = {}
        self._lock = threading.Lock()
        # build locks are keyed (key, generation): after an invalidate()
        # no new getter ever reuses a pre-invalidation lock object, so
        # pruning can drop ALL old-generation locks without the
        # popped-while-about-to-acquire race (two builders of one key) the
        # plain key-keyed map had (ADVICE r04).  An in-flight holder of a
        # dropped lock finishes normally — its result is voided by the
        # generation check below anyway.
        self._build_locks: dict[tuple[str, int], threading.Lock] = {}
        # single global generation, bumped by every invalidate(): a build
        # that started before any invalidation is never inserted (it may
        # have read pre-invalidation source data).  Global rather than
        # per-key so (a) invalidate-all tags in-flight FIRST builds of
        # not-yet-cached keys too, and (b) nothing grows with key
        # cardinality.  Cost: an invalidation racing an unrelated build
        # makes that one result uncached (next get rebuilds) — never wrong.
        self._generation = 0
        # (created_at, snapshot) a raced build produced: kept persisted so
        # the racing caller reads consistent materialized blocks (not a
        # lazy recompute against post-invalidation sources); freed on the
        # next invalidate, or opportunistically by any get() once older
        # than the TTL (the caller contract is per-request usage, so a
        # TTL-aged orphan is as releasable as any expired snapshot —
        # previously an invalidation-free session kept them forever).
        self._orphans: list[tuple[float, DataFrame]] = []

    def _drain_expired_orphans_locked(self) -> list[DataFrame]:
        """Split off TTL-aged orphans (caller holds ``self._lock``; caller
        unpersists OUTSIDE the lock)."""
        now = self._clock()
        expired = [s for t, s in self._orphans if now - t >= self.ttl]
        if expired:
            self._orphans = [(t, s) for t, s in self._orphans if now - t < self.ttl]
        return expired

    def _fresh_hit(self, key: str) -> DataFrame | None:
        hit = self._entries.get(key)
        if hit is not None and self._clock() - hit[0] < self.ttl:
            return hit[1]
        return None

    def get(self, key: str, build: Callable[[], DataFrame]) -> DataFrame:
        """The cached snapshot for ``key``, rebuilding if absent/expired.

        The fresh result is persisted (MEMORY_AND_DISK — dashboard results
        must not silently recompute when storage is tight) and eagerly
        materialized, so every consumer within the TTL reads cached blocks.
        """
        with self._lock:
            expired_orphans = self._drain_expired_orphans_locked()
            snapshot = self._fresh_hit(key)
            if snapshot is None:
                build_lock = self._build_locks.setdefault(
                    (key, self._generation), threading.Lock()
                )
        for orphan in expired_orphans:
            orphan.unpersist()
        if snapshot is not None:
            return snapshot
        with build_lock:
            # another thread may have rebuilt while we waited for its lock
            with self._lock:
                snapshot = self._fresh_hit(key)
                if snapshot is not None:
                    return snapshot
                gen_at_start = self._generation
            # build outside the registry lock: a slow rebuild must not block
            # get() on other keys.  persist_scope: the intermediates the
            # build tracks (e.g. a global rank's bucketed frame under a
            # decile/shard query) are freed as soon as the snapshot is
            # materialized — the snapshot's own blocks carry the answer, so
            # a TTL loop holds intermediate storage for one build, not
            # session lifetime.
            with persist_scope():
                fresh = build().persist(StorageLevel.MEMORY_AND_DISK)
                fresh.count()  # materialize once, at refresh time
            with self._lock:
                if self._generation != gen_at_start:
                    # invalidate() ran mid-build: this snapshot may have read
                    # pre-invalidation data.  Hand the MATERIALIZED snapshot
                    # to this caller (consistent blocks — unpersisting here
                    # would make their reads recompute against the replaced
                    # source) but do NOT cache it; freed on next invalidate
                    # or once TTL-aged (get() drains).
                    self._orphans.append((self._clock(), fresh))
                    stale = None
                else:
                    stale = self._entries.get(key)
                    self._entries[key] = (self._clock(), fresh)
            if stale is not None:
                stale[1].unpersist()
            return fresh

    def invalidate(self, key: str | None = None) -> None:
        """Drop one entry (or all), unpersisting snapshots immediately.
        In-flight builds that started before this call will not be cached
        when they finish (generation check in ``get``), including first
        builds of keys that were never cached."""
        with self._lock:
            self._generation += 1
            keys = [key] if key is not None else list(self._entries)
            dropped = [
                entry for k in keys if (entry := self._entries.pop(k, None)) is not None
            ]
            # every existing lock is now old-generation: no future getter
            # can reuse one (locks are keyed (key, generation)), so drop
            # them all — held or not — without enabling same-key duplicate
            # builds.  In-flight holders finish and orphan themselves.
            self._build_locks.clear()
            orphans, self._orphans = self._orphans, []
        for _, snapshot in dropped:
            snapshot.unpersist()
        for _, snapshot in orphans:
            snapshot.unpersist()
