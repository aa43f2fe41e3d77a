"""UsageApi: the /api/* handler shapes on a hand-built cube."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.plans.api import UsageApi

HOUR = 3_600_000
MINUTE = 60_000
DAY1 = 1714521600000  # 2024-05-01 00:00 UTC


@pytest.fixture()
def api(spark):
    rows = []
    for h, user, minutes in [
        (-48, "u0", 1),  # 2024-04-29: widens the A10 clamp range so
        (96, "u0", 1),   # 2024-05-05  interior-day axes are non-empty
        (0, "u1", 60),
        (1, "u1", 30),
        (0, "u2", 10),
        (30, "u3", 5),  # next day
    ]:
        rows.append(("c1", user, DAY1 + h * HOUR, "MAP", "SUCCESS", False, minutes * MINUTE))
    cube = spark.createDataFrame(
        rows,
        "cluster string, user string, t long, type string, status string,"
        " excess boolean, elapsedMs long",
    ).select(
        "cluster", "user",
        F.timestamp_millis(F.col("t")).cast("timestamp_ntz").alias("time"),
        "type", "status", "excess", "elapsedMs",
        F.col("elapsedMs").alias("cpuMsProrated"),
        F.lit(1).cast("long").alias("started"), F.lit(1).cast("long").alias("finished"),
        F.lit(0).cast("long").alias("reduceShuffleBytes"),
    )
    return UsageApi(spark, cube)


def test_clusters_users(api):
    assert api.clusters() == ["c1"]
    assert api.users("c1") == ["u0", "u1", "u2", "u3"]


def test_usage_shape_and_aggregation(api):
    res = api.usage(
        start_ms=DAY1 - 86_400_000,
        end_ms=DAY1 + 3 * 86_400_000,
        unit="HOURS",
        zone="UTC",
        users=["u1"],
        cluster="c1",
        metric="minutesTotal",
        users_to_aggregate=["u2", "u3"],
    )
    assert res["cluster"] == "c1" and res["num_aggregated_users"] == 2
    assert len(res["times"]) == len(res["users"][0]["data"])
    assert sum(res["users"][0]["data"]) == 90.0
    assert sum(res["users_aggregated"]) == 15.0
    # the hour axis is dense: mostly zeros
    assert res["users"][0]["data"].count(0.0) > 10


def test_cache_excludes_user_list(api):
    kw = dict(
        start_ms=DAY1 - 86_400_000, end_ms=DAY1 + 3 * 86_400_000, unit="HOURS",
        zone="UTC", cluster="c1", metric="minutesTotal",
    )
    api.usage(users=["u1"], **kw)
    api.usage(users=["u2", "u3"], **kw)
    assert api.cache.misses == 1 and api.cache.hits == 1
    api.on_data_loaded()
    api.usage(users=["u1"], **kw)
    assert api.cache.misses == 2


def test_table_csv(api):
    csv = api.table_csv(
        start_ms=DAY1 - 86_400_000,
        end_ms=DAY1 + 2 * 86_400_000 + 1,
        unit="DAYS",
        zone="UTC",
        users=["u1", "u2"],
        cluster="c1",
        metric="minutesTotal",
    )
    lines = csv.strip().split("\n")
    assert lines[0] == "time,u1,u2"
    # interior days only: 2024-05-01 .. 2024-05-02
    assert [ln.split(",")[0] for ln in lines[1:]] == ["2024-05-01", "2024-05-02"]
    # u1: 90 minutes = 1.5 h on 05-01
    assert lines[1] == "2024-05-01,1.5,0.166667"


def test_api_cache_hit_rate_user_filter_independent(api):
    """cache_builder.rb:15-49 parity at the API level: the memo key is
    the request shape MINUS the user list (usage_data.rb:442-454), so
    N requests over any user selections against one (cluster, unit,
    zone, metric) shape cost exactly one roll-up build — hit rate
    (N-1)/N — and /api/table reuses the same entry as /api/usage.
    A shape change misses; a data load invalidates."""
    win = dict(start_ms=DAY1 - 86_400_000, end_ms=DAY1 + 3 * 86_400_000)
    shape = dict(unit="HOURS", zone="UTC", cluster="c1")
    api.usage(users=["u1"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (1, 0)
    api.usage(users=["u2", "u3"], **win, **shape)
    api.usage(users=["u0", "u1", "u2"], users_to_aggregate=["u3"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (1, 2)
    # /api/table with yet another selection: same cached roll-up
    api.table_csv(users=["u3"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (1, 3)
    # shape change (unit) is a different key -> miss
    api.usage(users=["u1"], **win, unit="DAYS", zone="UTC", cluster="c1")
    assert (api.cache.misses, api.cache.hits) == (2, 3)
    # data load invalidates: same shape rebuilds once, then hits again
    api.on_data_loaded()
    api.usage(users=["u1"], **win, **shape)
    api.usage(users=["u2"], **win, **shape)
    assert (api.cache.misses, api.cache.hits) == (3, 4)


def _spark_jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` ran, counted under its own job group."""
    sc = spark.sparkContext
    group = f"test_api:{group}"  # the session is shared across test modules
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store fills from the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cache_hit_runs_no_spark_jobs(spark, api):
    """Cached values are plain driver data: a hit for /api/usage or
    /api/table runs zero Spark jobs. A miss runs one roll-up aggregate
    (AQE submits its shuffle map stage and its result as two jobs),
    plus one axis job the first time a window is seen in a data
    generation; the per-cluster clamp is collected once."""
    win = dict(start_ms=DAY1 - 86_400_000, end_ms=DAY1 + 3 * 86_400_000)
    shape = dict(unit="DAYS", zone="UTC", cluster="c1")
    assert _spark_jobs(spark, "cold", lambda: api.usage(users=["u1"], **win, **shape)) > 0
    assert _spark_jobs(spark, "hit-usage", lambda: api.usage(
        users=["u2"], users_to_aggregate=["u1", "u3"], **win, **shape)) == 0
    assert _spark_jobs(spark, "hit-table", lambda: api.table_csv(users=["u3", "u0"], **win, **shape)) == 0
    # a new metric on a known window: the roll-up aggregate only
    rollup = _spark_jobs(spark, "new-metric", lambda: api.usage(users=["u1"], metric="cpuTotal", **win, **shape))
    assert 1 <= rollup <= 2
    # a new window on a cached roll-up: one axis job, clamp memoized
    assert _spark_jobs(spark, "new-window", lambda: api.table_csv(
        users=["u1"], start_ms=DAY1, end_ms=DAY1 + 2 * 86_400_000, **shape)) == 1
    assert _spark_jobs(spark, "dims", lambda: (api.users("c1"), api.clusters())) > 0
    assert _spark_jobs(spark, "dims-hit", lambda: (api.users("c1"), api.clusters())) == 0
    # a data load invalidates roll-ups and lookups alike
    api.on_data_loaded()
    assert _spark_jobs(spark, "reloaded", lambda: api.usage(users=["u1"], **win, **shape)) > 0
