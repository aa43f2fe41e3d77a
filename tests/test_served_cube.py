"""The served cube is the refreshed cube: ``UsageApi`` over a one-pass
A1-A3 build and over ``incremental.refresh`` + ``read_cube`` of the
same attempts gives identical /api/usage and /api/table replies."""

from __future__ import annotations

import pytest

from white_elephant_spark.operators import usage
from white_elephant_spark.plans.api import UsageApi
from white_elephant_spark.sources import incremental as inc

MINUTE = 60_000
HOUR = 60 * MINUTE
DAY = 24 * HOUR
DAY1 = 1714521600000  # 2024-05-01 00:00 UTC
METRICS = ("minutesTotal", "cpuTotal", "totalStarted", "reduceShuffleBytes")
CLUSTERS = ["c1", "c2"]


def _attempts(spark):
    rows = [
        # crosses three hours; CPU prorates to non-round ms
        ("a1", "u0", "c1", "MAP", "SUCCESS", False,
         DAY1 + 30 * MINUTE, DAY1 + 2 * HOUR + 15 * MINUTE,
         {"CPU_MILLISECONDS": 90_001, "SPILLED_RECORDS": 10, "REDUCE_SHUFFLE_BYTES": 0}),
        # no CPU counter: its cpuMsProrated stays NULL
        ("a2", "u1", "c1", "REDUCE", "SUCCESS", False,
         DAY1 + DAY + 5 * HOUR, DAY1 + DAY + 5 * HOUR + 20 * MINUTE + 7,
         {"SPILLED_RECORDS": 0, "REDUCE_SHUFFLE_BYTES": 4096}),
        # crosses UTC midnight, so refresh writes it into two day partitions
        ("a3", "u2", "c1", "REDUCE", "FAILED", True,
         DAY1 + 2 * DAY + 23 * HOUR + 50 * MINUTE, DAY1 + 3 * DAY + 10 * MINUTE,
         {"CPU_MILLISECONDS": 7_000, "REDUCE_SHUFFLE_BYTES": 555}),
        ("a4", "u0", "c2", "REDUCE", "KILLED", False,
         DAY1 + DAY + HOUR, DAY1 + DAY + 3 * HOUR,
         {"CPU_MILLISECONDS": 60_000, "REDUCE_SHUFFLE_BYTES": 123}),
        ("a5", "u1", "c2", "MAP", "SUCCESS", False,
         DAY1 + 3 * DAY + 2 * HOUR, DAY1 + 3 * DAY + 2 * HOUR + 59 * MINUTE,
         {"CPU_MILLISECONDS": 1}),
    ]
    return spark.createDataFrame(
        [("j1", "t" + aid, aid, *r) for aid, *r in rows],
        "jobId string, taskId string, taskAttemptId string, user string, cluster string,"
        " type string, taskStatus string, excess boolean, startTime long, finishTime long,"
        " counters map<string,long>",
    )


@pytest.fixture(scope="module")
def apis(spark, tmp_path_factory):
    att = _attempts(spark)
    one_pass = usage.aggregate_usage_exact(
        usage.explode_attempt_hours(usage.filter_usable_attempts(att))
    )
    path = str(tmp_path_factory.mktemp("served") / "cube")
    assert len(inc.refresh(att, path)) == 4
    return UsageApi(spark, one_pass), UsageApi(spark, inc.read_cube(spark, path))


def test_refreshed_cube_has_the_served_rows(apis):
    served, refreshed = apis
    cols = sorted(served.cube.columns)
    assert sorted(refreshed.cube.columns) == cols

    def rows(cube):
        return cube.select(*cols).orderBy(*usage.KEY_COLS).collect()

    assert rows(refreshed.cube) == rows(served.cube)


@pytest.mark.parametrize("unit", ["HOURS", "DAYS"])
@pytest.mark.parametrize("metric", METRICS)
def test_served_replies_equal_refreshed(apis, unit, metric):
    served, refreshed = apis
    assert served.clusters() == refreshed.clusters() == CLUSTERS
    for cluster in CLUSTERS:
        lo, hi = served.time_range(cluster)
        assert refreshed.time_range(cluster) == (lo, hi)
        kw = dict(start_ms=lo, end_ms=hi, unit=unit, zone="UTC", cluster=cluster, metric=metric)
        shown, rest = ["u0"], ["u1", "u2"]
        got = refreshed.usage(users=shown, users_to_aggregate=rest, **kw)
        assert got == served.usage(users=shown, users_to_aggregate=rest, **kw)
        assert got["times"]  # a non-empty axis was compared
        table = refreshed.table_csv(users=shown + rest, **kw)
        assert table == served.table_csv(users=shown + rest, **kw)


def test_null_cpu_serves_as_zero(apis):
    """u1's only c1 attempt has no CPU counter: its cpuTotal series is
    zero-filled, and it adds nothing to the "other" series."""
    _, refreshed = apis
    lo, hi = refreshed.time_range("c1")
    kw = dict(start_ms=lo, end_ms=hi, unit="HOURS", zone="UTC", cluster="c1", metric="cpuTotal")
    alone = refreshed.usage(users=["u1"], **kw)
    assert set(alone["users"][0]["data"]) == {0.0}
    both = refreshed.usage(users=["u2"], users_to_aggregate=["u1", "u2"], **kw)
    assert both["users_aggregated"] == both["users"][0]["data"]
    assert sum(both["users_aggregated"]) > 0
