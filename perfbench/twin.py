"""Independent DuckDB twin of the serving endpoints.

It reads the same partitioned cube files the server reads and
re-derives ``/api/usage``, ``/api/table``, ``/api/users`` and
``/api/clusters`` with its own metric catalog, its own time-zone
bucketing in SQL and its own dense-axis rules in Python. Nothing is
imported from the engine, so a serving bug cannot cancel itself out.
"""

from __future__ import annotations

import csv
import io
import math
from datetime import date, datetime, timedelta, timezone
from zoneinfo import ZoneInfo

import duckdb

HOUR_MS = 3_600_000

# name → (measure SQL over the exact cube, predicate SQL); the reference
# UI's 17 metric types (usage_query.js.coffee, usage_data.rb). Measures
# are summed as DECIMAL(27,4), the engine's documented order-independent
# numeric convention, so sums agree to the last bit.
METRICS = {
    "minutesTotal": ("elapsedMs / 60000.0", "TRUE"),
    "minutesMap": ("elapsedMs / 60000.0", "type = 'MAP'"),
    "minutesReduce": ("elapsedMs / 60000.0", "type = 'REDUCE'"),
    "minutesExcessTotal": ("elapsedMs / 60000.0", "excess"),
    "minutesExcessMap": ("elapsedMs / 60000.0", "type = 'MAP' AND excess"),
    "minutesExcessReduce": ("elapsedMs / 60000.0", "type = 'REDUCE' AND excess"),
    "minutesSuccess": ("elapsedMs / 60000.0", "status = 'SUCCESS'"),
    "minutesFailed": ("elapsedMs / 60000.0", "status = 'FAILED'"),
    "minutesKilled": ("elapsedMs / 60000.0", "status = 'KILLED'"),
    "cpuTotal": ("cpuMsProrated / 60000.0", "TRUE"),
    "totalStarted": ("started", "TRUE"),
    "mapStarted": ("started", "type = 'MAP'"),
    "reduceStarted": ("started", "type = 'REDUCE'"),
    "successFinished": ("finished", "status = 'SUCCESS'"),
    "failedFinished": ("finished", "status = 'FAILED'"),
    "killedFinished": ("finished", "status = 'KILLED'"),
    "reduceShuffleBytes": ("reduceShuffleBytes", "type = 'REDUCE'"),
}
UNITS = ("HOURS", "DAYS", "WEEKS", "MONTHS", "QUARTERS")


def _bucket_sql(unit: str, zone: str) -> str:
    """Bucket start (naive UTC) of the naive-UTC column ``time``."""
    if unit == "HOURS":
        return "date_trunc('hour', time)"
    local = f"((time AT TIME ZONE 'UTC') AT TIME ZONE '{zone}')"
    day = f"date_trunc('day', {local})"
    start = {
        "DAYS": day,
        "WEEKS": f"CAST({day} - to_days(CAST(dayofweek({day}) AS INTEGER)) AS TIMESTAMP)",
        "MONTHS": f"date_trunc('month', {local})",
        "QUARTERS": f"date_trunc('quarter', {local})",
    }[unit]
    return f"(({start}) AT TIME ZONE '{zone}') AT TIME ZONE 'UTC'"


def _ms(ts: datetime) -> int:
    return int(ts.replace(tzinfo=timezone.utc).timestamp() * 1000)


def _local_date(ms: int, zone: str) -> date:
    return datetime.fromtimestamp(ms / 1000, tz=ZoneInfo(zone)).date()


def _midnight_ms(d: date, zone: str) -> int:
    return int(datetime(d.year, d.month, d.day, tzinfo=ZoneInfo(zone)).timestamp() * 1000)


def _add_months(d: date, n: int) -> date:
    m = d.year * 12 + d.month - 1 + n
    return date(m // 12, m % 12 + 1, 1)


class Twin:
    def __init__(self, cube_path: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            # ``time`` as naive UTC, whichever parquet timestamp type the writer used
            "CREATE VIEW cube AS SELECT * REPLACE (CAST(timezone('UTC', time) AS TIMESTAMP) AS time)"
            f" FROM read_parquet('{cube_path}/*/*/*.parquet', hive_partitioning = true)"
        )

    def close(self) -> None:
        self.con.close()

    def clusters(self) -> list[str]:
        return [r[0] for r in self.con.execute("SELECT DISTINCT cluster FROM cube ORDER BY 1").fetchall()]

    def users(self, cluster: str) -> list[str]:
        return [
            r[0]
            for r in self.con.execute(
                "SELECT DISTINCT user FROM cube WHERE cluster = ? ORDER BY 1", [cluster]
            ).fetchall()
        ]

    def _series(self, cluster, unit, zone, metric) -> dict[tuple[str, int], float]:
        measure, pred = METRICS[metric]
        rows = self.con.execute(
            f"SELECT user, {_bucket_sql(unit, zone)} AS b, SUM(CAST({measure} AS DECIMAL(27, 4))) FROM cube"
            f" WHERE cluster = ? AND {pred} GROUP BY 1, 2",
            [cluster],
        ).fetchall()
        return {(u, _ms(b)): float(v) for u, b, v in rows if v is not None}

    def _axis(self, cluster, unit, zone, start_ms, end_ms) -> list[int]:
        if unit == "HOURS":  # raw request bounds, hour-floored, inclusive
            return [h * HOUR_MS for h in range(start_ms // HOUR_MS, end_ms // HOUR_MS + 1)]
        lo, hi = self.con.execute(
            "SELECT min(time), max(time) FROM cube WHERE cluster = ?", [cluster]
        ).fetchone()
        sd = _local_date(max(start_ms, _ms(lo)), zone)
        ed = _local_date(min(end_ms, _ms(hi)), zone)
        if unit == "DAYS":  # strictly interior days
            first, last, step = sd + timedelta(days=1), ed - timedelta(days=1), "day"
        elif unit == "WEEKS":  # Sunday weeks, shrunk one week per side
            sun = lambda d: d - timedelta(days=(d.weekday() + 1) % 7)  # noqa: E731
            first, last, step = sun(sd) + timedelta(days=7), sun(ed) - timedelta(days=7), "week"
        elif unit == "MONTHS":  # strictly interior months
            first, last, step = _add_months(sd.replace(day=1), 1), _add_months(ed.replace(day=1), -1), "month"
        else:  # quarter starts; only the end is shrunk
            q = lambda d: date(d.year, (d.month - 1) // 3 * 3 + 1, 1)  # noqa: E731
            first, last, step = q(sd), _add_months(q(ed), -3), "quarter"
        out, d = [], first
        while d <= last:
            out.append(_midnight_ms(d, zone))
            if step == "day":
                d += timedelta(days=1)
            elif step == "week":
                d += timedelta(days=7)
            else:
                d = _add_months(d, 1 if step == "month" else 3)
        return out

    def usage(self, cluster, unit, zone, metric, start_ms, end_ms, users, users_to_aggregate) -> dict:
        axis = self._axis(cluster, unit, zone, start_ms, end_ms)
        series = self._series(cluster, unit, zone, metric)
        agg = None
        if users_to_aggregate and axis:
            agg = [sum(series.get((u, b), 0.0) for u in users_to_aggregate) for b in axis]
        return {
            "times": axis,
            "users": [{"user": u, "data": [series.get((u, b), 0.0) for b in axis]} for u in users] if axis else [],
            "users_aggregated": agg if agg is not None else [],
            "num_aggregated_users": len(users_to_aggregate),
            "cluster": cluster,
        }

    def table_rows(self, cluster, unit, zone, metric, start_ms, end_ms, users) -> list[tuple]:
        """Rows of ``/api/table`` as (local date, hours per user...)."""
        axis = self._axis(cluster, unit, zone, start_ms, end_ms)
        series = self._series(cluster, unit, zone, metric)
        rows = []
        for b in axis:
            day = _local_date(b, zone).isoformat()
            rows.append((day, *[series.get((u, b), 0.0) / 60.0 for u in users]))
        return rows


def _close(a: float, b: float, rel: float) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


def usage_matches(got: dict, want: dict) -> str | None:
    """None when the served usage response equals the twin's; else why."""
    if got["times"] != want["times"]:
        return f"times differ ({len(got['times'])} vs {len(want['times'])} buckets)"
    if [u["user"] for u in got["users"]] != [u["user"] for u in want["users"]]:
        return "user lists differ"
    for g, w in zip(got["users"], want["users"]):
        if not all(_close(a, b, 1e-9) for a, b in zip(g["data"], w["data"])):
            return f"series of {g['user']} differs"
    if len(got["users_aggregated"]) != len(want["users_aggregated"]) or not all(
        _close(a, b, 1e-9) for a, b in zip(got["users_aggregated"], want["users_aggregated"])
    ):
        return "aggregated series differs"
    if got["num_aggregated_users"] != want["num_aggregated_users"] or got["cluster"] != want["cluster"]:
        return "header fields differ"
    return None


def table_matches(body: str, users: list[str], want_rows: list[tuple]) -> str | None:
    """Compare ``/api/table`` CSV with the twin's rows. Rows sharing a
    local date have no defined order, and values are printed to six
    significant digits, so rows are compared sorted, within 1e-5."""
    rows = list(csv.reader(io.StringIO(body)))
    if rows[0] != ["time", *users]:
        return "header differs"
    got = sorted((r[0], *map(float, r[1:])) for r in rows[1:])
    want = sorted(want_rows)
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    for g, w in zip(got, want):
        if g[0] != w[0] or not all(_close(a, b, 1e-5) for a, b in zip(g[1:], w[1:])):
            return f"row {g[0]} differs"
    return None
