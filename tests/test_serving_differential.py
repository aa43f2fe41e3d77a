"""Serving-path differential over a hostile hand-built exact cube.

``UsageApi.usage`` / ``table_csv`` shape replies on the driver from
memoized roll-ups and axes. This suite checks them against the Spark
plans that compute the same replies end to end —
``serving.timeseries`` / ``csv_table`` over ``rollup_by_time``, the
``clamp_range`` aggregate and ``dense_axis`` — on every unit, with:

- DST folds: America/Los_Angeles fall-back (2024-11-03, local 01:00
  twice) and spring-forward (2024-03-10), Australia/Adelaide fall-back
  (2024-04-07, local 02:30 twice) and spring-forward (2024-10-06);
- a half-hour zone (Asia/Kolkata, local midnight at xx:30 UTC);
- Sunday-week edges (rows an hour either side of local Sunday
  midnight; the cube's first row is exactly LA Sunday 00:00) and
  quarter edges (rows either side of local quarter starts; the last
  row is still Q4 2024 in LA but Q1 2025 elsewhere);
- tied users, a selected user with no rows in the cluster (only in a
  decoy cluster), an aggregated user with no rows at all, duplicate
  (user, hour) rows split by type, and an empty axis (an inverted
  window, and a window with no interior bucket).

Usage values must agree within 1e-9 (the "other" series is a float sum
whose order differs between Spark and the driver); CSV cells are the
same IEEE-754 division on both sides and must agree as text.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from white_elephant_spark.functions.timeunits import UNITS
from white_elephant_spark.plans import serving
from white_elephant_spark.plans.api import UsageApi
from white_elephant_spark.plans.metrics import rollup_by_time

ZONES = ("UTC", "America/Los_Angeles", "Australia/Adelaide", "Asia/Kolkata")
METRIC = "minutesTotal"
SHOWN = ["tie_a", "ghost", "heavy"]
AGGREGATED = ["tie_b", "light", "nobody"]
TABLE_USERS = ["tie_b", "ghost", "heavy", "tie_a"]
MINUTE = 60_000


def _ms(*args) -> int:
    return int(datetime(*args, tzinfo=timezone.utc).timestamp() * 1000)


WINDOWS = {
    "wide": (_ms(2024, 3, 1), _ms(2025, 1, 5)),  # wider than the cube: clamped
    "inverted": (_ms(2024, 6, 1), _ms(2024, 5, 1)),  # empty axis for every unit
    "la_fold": (_ms(2024, 11, 3, 6), _ms(2024, 11, 3, 11)),  # HOURS only
}

#: UTC hours (year, month, day, hour) at DST folds and week/quarter edges.
EDGE_HOURS = [
    (2024, 3, 3, 8),  # LA Sunday 00:00 PST — the cube's first row
    (2024, 3, 10, 9), (2024, 3, 10, 10),  # LA spring-forward
    (2024, 3, 31, 18), (2024, 3, 31, 19),  # Kolkata Q1→Q2 (23:30 / 00:30)
    (2024, 4, 6, 13), (2024, 4, 6, 14),  # Adelaide Sunday midnight
    (2024, 4, 6, 16), (2024, 4, 6, 17),  # Adelaide fall-back: 02:30 twice
    (2024, 6, 30, 18), (2024, 6, 30, 19),  # Kolkata Q2→Q3, a Sunday
    (2024, 9, 30, 14), (2024, 9, 30, 15),  # Adelaide Q3→Q4
    (2024, 10, 1, 6), (2024, 10, 1, 7),  # LA Q3→Q4
    (2024, 10, 5, 16), (2024, 10, 5, 17),  # Adelaide spring-forward
    (2024, 11, 3, 6), (2024, 11, 3, 7),  # LA Saturday 23:00 / Sunday 00:00
    (2024, 11, 3, 8), (2024, 11, 3, 9),  # LA fall-back: 01:00 twice
    (2024, 12, 31, 23), (2024, 12, 31, 23),  # UTC Q4→Q1 ...
    (2025, 1, 1, 0), (2025, 1, 1, 7),  # ... last row: still 2024 in LA
]


def _rows() -> list[tuple]:
    rows = []
    for i, hour in enumerate(EDGE_HOURS):
        t = _ms(*hour)
        heavy = 7.25 + i / 3  # non-dyadic fractions: float sums are order-sensitive
        rows.append(("c1", "heavy", t, "MAP", "SUCCESS", heavy))
        rows.append(("c1", "heavy", t, "REDUCE", "FAILED", heavy / 7))  # same (user, hour)
        if i % 2 == 0:  # tied users: identical rows
            for u in ("tie_a", "tie_b"):
                rows.append(("c1", u, t, "MAP", "SUCCESS", 0.1 * (i + 1)))
        if i % 3 == 0:
            rows.append(("c1", "light", t, "REDUCE", "KILLED", 1 / (i + 3)))
        # decoy cluster: 'ghost' has rows, but never in c1
        rows.append(("c2", "ghost", t + 3_600_000, "MAP", "SUCCESS", 100.0 + i))
        rows.append(("c2", "heavy", t, "MAP", "SUCCESS", 1000.0))
    rows.append(("c2", "ghost", _ms(2023, 1, 1), "MAP", "SUCCESS", 5.0))  # widens c2's clamp only
    # minutes → the cube's exact integer ms
    return [(*r[:-1], round(r[-1] * MINUTE)) for r in rows]


@pytest.fixture(scope="module")
def cube(spark):
    return spark.createDataFrame(
        _rows(), "cluster string, user string, t long, type string, status string, elapsedMs long"
    ).select(
        "cluster", "user",
        F.timestamp_millis(F.col("t")).cast("timestamp_ntz").alias("time"),
        "type", "status", F.lit(False).alias("excess"), "elapsedMs",
        F.col("elapsedMs").alias("cpuMsProrated"),
        F.lit(1).cast("long").alias("started"), F.lit(1).cast("long").alias("finished"),
        F.lit(0).cast("long").alias("reduceShuffleBytes"),
    )


@pytest.fixture(scope="module")
def api(spark, cube):
    return UsageApi(spark, cube)


def _plans(spark, cube, unit: str, zone: str, window: str):
    series = rollup_by_time(cube, METRIC, "c1", unit, zone)
    clamp = serving.clamp_range(cube.filter(F.col("cluster") == "c1"))
    axis = serving.dense_axis(spark, unit, zone, *WINDOWS[window], clamp=clamp)
    return series, axis


def _plan_usage(series, axis, users: list[str], agg: list[str]) -> dict:
    """The /api/usage reply built from the ``serving.timeseries`` plan."""
    dense = serving.timeseries(series, axis, users, agg).collect()
    buckets = sorted({r["bucket"] for r in dense})
    idx = {b: i for i, b in enumerate(buckets)}
    per_user: dict[str, list[float]] = {}
    for r in dense:
        per_user.setdefault(r["userName"], [0.0] * len(buckets))[idx[r["bucket"]]] = r["value"]
    other = per_user.pop("__other__", None)
    return {
        "times": [int(b.replace(tzinfo=timezone.utc).timestamp() * 1000) for b in buckets],
        "users": [{"user": u, "data": per_user[u]} for u in users if u in per_user],
        "users_aggregated": other,
        "num_aggregated_users": len(agg),
        "cluster": "c1",
    }


def _plan_table(series, axis, users: list[str], zone: str) -> list[str]:
    rows = serving.csv_table(series, axis, users, zone, to_hours=True).collect()
    return [r["time"] + "," + ",".join(f"{r[u]:g}" for u in users) for r in rows]


def _close(a: list[float] | None, b: list[float] | None) -> bool:
    if a is None or b is None:
        return a is b
    return len(a) == len(b) and all(math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9) for x, y in zip(a, b))


CASES = (
    [(u, z, "wide") for u in UNITS for z in ZONES]
    + [(u, "UTC", "inverted") for u in UNITS]
    + [(u, "America/Los_Angeles", "la_fold") for u in UNITS]
)


@pytest.mark.parametrize("unit,zone,window", CASES)
def test_api_matches_spark_plans(spark, cube, api, unit, zone, window):
    series, axis = _plans(spark, cube, unit, zone, window)
    start_ms, end_ms = WINDOWS[window]
    kw = dict(start_ms=start_ms, end_ms=end_ms, unit=unit, zone=zone, cluster="c1", metric=METRIC)
    selections = [(SHOWN, AGGREGATED)]
    if window == "wide" and zone == "UTC":
        selections.append(([], ["tie_a", "tie_b"]))  # only the "other" series
    for shown, agg in selections:
        got = api.usage(users=shown, users_to_aggregate=agg, **kw)
        want = _plan_usage(series, axis, shown, agg)
        assert got["times"] == want["times"]
        assert [u["user"] for u in got["users"]] == [u["user"] for u in want["users"]]
        for g, w in zip(got["users"], want["users"]):
            assert _close(g["data"], w["data"]), g["user"]
        assert _close(got["users_aggregated"], want["users_aggregated"])
        assert {k: got[k] for k in ("num_aggregated_users", "cluster")} == {
            k: want[k] for k in ("num_aggregated_users", "cluster")
        }

    lines = api.table_csv(users=TABLE_USERS, **kw).splitlines()
    assert lines[0] == "time," + ",".join(TABLE_USERS)
    labels = [ln.split(",", 1)[0] for ln in lines[1:]]
    assert labels == sorted(labels)
    # HOURS rows share a date label; Spark orders ties arbitrarily
    assert sorted(lines[1:]) == sorted(_plan_table(series, axis, TABLE_USERS, zone))

    if window == "inverted" or (window == "la_fold" and unit != "HOURS"):
        assert got["times"] == [] and len(lines) == 1  # the empty-axis case ran
    else:
        assert got["times"] and sum(got["users_aggregated"]) > 0


def test_hostile_cube_edges_are_on_the_axis(api):
    """The edge rows land in distinct buckets the axis keeps: the LA
    fold hours stay two UTC hours, the Adelaide fold day is one local
    day, and Kolkata's quarter edge splits at local midnight."""
    wide = dict(zip(("start_ms", "end_ms"), WINDOWS["wide"]))
    hours = api.usage(users=["heavy"], unit="HOURS", zone="America/Los_Angeles", cluster="c1", **wide)
    by_ms = dict(zip(hours["times"], hours["users"][0]["data"]))
    assert by_ms[_ms(2024, 11, 3, 8)] > 0 and by_ms[_ms(2024, 11, 3, 9)] > 0
    days = api.usage(users=["heavy"], unit="DAYS", zone="Australia/Adelaide", cluster="c1", **wide)
    fold_day = _ms(2024, 4, 6, 13, 30)  # 2024-04-07 00:00 ACDT
    assert fold_day in days["times"]
    quarters = api.usage(users=["heavy"], unit="QUARTERS", zone="Asia/Kolkata", cluster="c1", **wide)
    assert _ms(2024, 3, 31, 18, 30) in quarters["times"]  # 2024-04-01 00:00 IST
