"""Query-result cache (§3.2 step 3; SURVEY §4 "query-result caching").

The reference memoizes serving-layer query results in an unbounded
Guava cache keyed by the YAML-serialized (method, params)
(server/app/cache_builder.rb:15-49; usage_data.rb:29,442-454), with
two deliberate design points preserved here:

1. **The user list is NOT part of the cache key** — the cached cube
   groups by *all* users; user filtering happens after the cache hit
   (usage_data.rb:62-68), so one cached roll-up serves any user
   selection.
2. **Invalidation on data load** (usage_loader.rb:195-196): the
   loader bumps a generation counter and the stale entries are
   dropped.

Spark realization: the cached value is a **plain driver value** (for
a roll-up, the collected ``{user: {bucket: value}}`` of one (cluster,
unit, zone, metric) shape), as the reference's JVM-heap memo holds
result rows. A hit therefore runs no Spark job at all; the follow-up
user filter and shaping are a few thousand points of driver work.
Entries are LRU-bounded (the reference's unbounded cache is a leak at
scale); nothing is persisted, so eviction and invalidation just drop
references.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable, TypeVar

V = TypeVar("V")


class QueryCache:
    """Thread-safe LRU memo of driver values: the HTTP daemon serves
    concurrent handler threads against one cache, so the map and the
    generation counter change only under a lock. ``build()`` runs
    OUTSIDE the lock — it issues Spark jobs, and holding the lock
    would queue every hit behind a miss. Two concurrent misses on one
    key may both build; the second store replaces the first, which
    wastes one job and leaks nothing. A build that started before an
    :meth:`invalidate` is returned to its own caller but never
    stored, so no later request is served pre-refresh data.

    Values are shared between callers and must be treated as
    read-only."""

    def __init__(self, max_entries: int = 64):
        self.max_entries = max_entries
        self._entries: OrderedDict[tuple, object] = OrderedDict()
        self._generation = 0
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def get_or_build(self, key: tuple, build: Callable[[], V]) -> V:
        """Return the value for ``key``, building it on miss. ``key``
        must exclude per-request selections that are applied
        post-cache (the user list)."""
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                self.hits += 1
                return self._entries[key]
            self.misses += 1
            generation = self._generation
        value = build()
        with self._lock:
            if generation == self._generation:
                self._entries[key] = value
                self._entries.move_to_end(key)
                while len(self._entries) > self.max_entries:
                    self._entries.popitem(last=False)
        return value

    def invalidate(self) -> None:
        """I4 — called after a data load: every cached result is
        stale (usage_loader.rb:195-196). Drops the entries and bumps
        the generation, so builds still in flight are not stored."""
        with self._lock:
            self._generation += 1
            self._entries.clear()

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()


class ReadWriteLock:
    """Drain lock for serving-vs-refresh: many concurrent readers
    (request handlers), one writer (the data refresh) that waits for
    in-flight readers to DRAIN before mutating shared Spark state.

    Why it exists: ``unpersist()`` on a cube that an in-flight query
    is actively scanning removes blocks out from under running tasks
    (local mode: blockNotFound → job failure → 500; a cluster retries
    but re-reads the whole lineage mid-query). The refresh hook must
    therefore run with zero readers in flight — found by the daemon
    soak test, not visible in any single-threaded path.

    A waiting writer also blocks NEW readers (no writer starvation
    under sustained request load); at refresh cadence (minutes-hours)
    the brief queueing is immaterial."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    def acquire_read(self) -> None:
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1

    def release_read(self) -> None:
        with self._cond:
            self._readers -= 1
            if self._readers == 0:
                self._cond.notify_all()

    def acquire_write(self) -> None:
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
            finally:
                self._writers_waiting -= 1
            self._writer = True

    def release_write(self) -> None:
        with self._cond:
            self._writer = False
            self._cond.notify_all()
