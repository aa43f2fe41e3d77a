"""QueryCache: driver-value memo — hit reuse, user filter outside the
key, invalidation, LRU bound, builds outside the lock."""

from __future__ import annotations

import threading

from white_elephant_spark.plans.cache import QueryCache


def test_cache_hit_and_post_cache_user_filter():
    cache = QueryCache()
    builds = []

    def build():
        builds.append(1)
        return {"u1": 10, "u2": 20, "u3": 30}

    key = ("alpha", "WEEKS", "UTC", "minutesTotal")  # no user list (§3.2 step 3)
    a = {u: v for u, v in cache.get_or_build(key, build).items() if u == "u1"}
    b = {u: v for u, v in cache.get_or_build(key, build).items() if u in ("u2", "u3")}
    assert len(builds) == 1  # one build serves both user selections
    assert a == {"u1": 10} and b == {"u2": 20, "u3": 30}
    assert cache.hits == 1 and cache.misses == 1


def test_invalidation_rebuilds():
    cache = QueryCache()
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert cache.get_or_build(("k",), build) == 1
    cache.invalidate()  # data load happened
    assert cache._entries == {}  # stale values are dropped, not kept
    assert cache.get_or_build(("k",), build) == 2
    assert cache.get_or_build(("k",), build) == 2
    assert len(builds) == 2


def test_lru_eviction():
    cache = QueryCache(max_entries=2)
    for i in range(3):
        cache.get_or_build((i,), lambda i=i: i)
    cache.get_or_build((1,), lambda: "rebuilt")  # touch: 1 becomes most recent
    cache.get_or_build((3,), lambda: 3)  # evicts 2, the least recent
    assert list(cache._entries) == [(1,), (3,)]
    assert cache._entries[(1,)] == 1


def test_build_runs_outside_the_lock():
    """A miss whose build is still running (a Spark job, in the API)
    must not hold up a hit on another key."""
    cache = QueryCache()
    cache.get_or_build(("hot",), lambda: "cached")
    building, release = threading.Event(), threading.Event()

    def slow_build():
        building.set()
        assert release.wait(30)
        return "slow"

    t = threading.Thread(target=cache.get_or_build, args=(("cold",), slow_build))
    t.start()
    try:
        assert building.wait(30)
        got: list = []
        hit = threading.Thread(target=lambda: got.append(cache.get_or_build(("hot",), lambda: "rebuilt")))
        hit.start()
        hit.join(10)
        assert not hit.is_alive() and got == ["cached"]
    finally:
        release.set()
        t.join(30)
    assert not t.is_alive()
    assert cache.get_or_build(("cold",), lambda: "rebuilt") == "slow"


def test_read_write_lock_drains_and_blocks():
    """ReadWriteLock: a writer waits for in-flight readers to drain,
    and NEW readers queue behind a waiting writer (no starvation) —
    the /api/refresh vs in-flight-query contract."""
    import time

    from white_elephant_spark.plans.cache import ReadWriteLock

    rw = ReadWriteLock()
    order: list[str] = []
    reader_in = threading.Event()
    release_reader = threading.Event()

    def long_reader():
        rw.acquire_read()
        order.append("r1-in")
        reader_in.set()
        release_reader.wait(10)
        order.append("r1-out")
        rw.release_read()

    def writer():
        reader_in.wait(10)
        rw.acquire_write()
        order.append("w-in")
        time.sleep(0.05)
        order.append("w-out")
        rw.release_write()

    def late_reader():
        reader_in.wait(10)
        time.sleep(0.02)  # let the writer start waiting first
        rw.acquire_read()
        order.append("r2-in")
        rw.release_read()

    threads = [
        threading.Thread(target=long_reader),
        threading.Thread(target=writer),
        threading.Thread(target=late_reader),
    ]
    for t in threads:
        t.start()
    time.sleep(0.2)
    # writer must still be waiting on the in-flight reader, and the
    # late reader must be queued behind the waiting writer
    assert order == ["r1-in"]
    release_reader.set()
    for t in threads:
        t.join(10)
    assert order == ["r1-in", "r1-out", "w-in", "w-out", "r2-in"]
