"""Thin serving API — the reference's Sinatra routes as functions.

Mirrors server/app.rb:
- ``/api/clusters``  (:39-42)  → :meth:`UsageApi.clusters`
- ``/api/users``     (:32-37)  → :meth:`UsageApi.users`
- ``/api/usage``     (:44-107) → :meth:`UsageApi.usage` — same JSON
  shape: ``{times, users: [{user, data}], users_aggregated,
  num_aggregated_users, cluster}``
- ``/api/table``     (:110-157)→ :meth:`UsageApi.table_csv` — header
  ``time,user1,...``, local %Y-%m-%d dates, minutes→hours

:mod:`white_elephant_spark.server` wraps these 1:1 as a listening
``ThreadingHTTPServer`` (``python -m white_elephant_spark serve``).
``UsageApi`` serves the one hourly-cube format, the exact-integer
cube of operators/usage.py ``aggregate_usage_exact``: what the
``usage_cube_hourly`` build returns, and what ``incremental.read_cube``
reads back after a refresh or a streaming upsert. ``rollup_by_time``
reports its ms measures in minutes.
Spark builds each memoized value with one job; replies are shaped on
the driver from those values, as the reference serves from its
JVM-heap memo (usage_data.rb:29,442-454):

- ``cache`` holds roll-ups keyed by (cluster, unit, zone, metric),
  collected as ``{user: {bucket: value}}``. The user list is
  deliberately excluded from the key (usage_data.rb:442-454 note) and
  filtered post-cache. One entry is at most its cluster's
  (user, bucket) pairs; the LRU bound caps the total.
- ``lookups`` holds, per data generation, the A10 clamp per cluster,
  the dense axis per (cluster, unit, zone, start, end) with its local
  date labels, and the users/clusters dimension lists.

The user filter, the "other" sum, the zero fill, the CSV pivot and
minutes→hours are driver work, so a request whose entries are cached
runs no Spark job.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.plans import serving
from white_elephant_spark.plans.cache import QueryCache
from white_elephant_spark.plans.metrics import rollup_by_time

#: (bucket, local %Y-%m-%d label) per axis point, in bucket order.
Axis = tuple[tuple[datetime, str], ...]


class UsageApi:
    def __init__(self, spark: SparkSession, cube: DataFrame, max_cache_entries: int = 64):
        self.spark = spark
        self.cube = cube
        self.cache = QueryCache(max_cache_entries)  # roll-ups
        self.lookups = QueryCache(max_cache_entries)  # clamps, axes, dimensions

    # -- dimension endpoints (A9) ------------------------------------
    def clusters(self) -> list[str]:
        def build() -> tuple[str, ...]:
            rows = self.cube.select("cluster").distinct().orderBy("cluster").collect()
            return tuple(r["cluster"] for r in rows)

        return list(self.lookups.get_or_build(("clusters",), build))

    def users(self, cluster: str) -> list[str]:
        def build() -> tuple[str, ...]:
            rows = (
                self.cube.filter(F.col("cluster") == cluster)
                .select("user")
                .distinct()
                .orderBy("user")
                .collect()
            )
            return tuple(r["user"] for r in rows)

        return list(self.lookups.get_or_build(("users", cluster), build))

    def time_range(self, cluster: str) -> tuple[int | None, int | None]:
        """A10 — the cluster's (min_ms, max_ms) cube range: the clamp
        of every non-HOURS axis, and the default request window."""

        def build() -> tuple[int | None, int | None]:
            r = serving.clamp_range(self.cube.filter(F.col("cluster") == cluster)).collect()[0]
            return r["min_ms"], r["max_ms"]

        return self.lookups.get_or_build(("range", cluster), build)

    # -- series machinery --------------------------------------------
    def _series(self, cluster: str, unit: str, zone: str, metric: str) -> dict[str, dict[datetime, float]]:
        def build() -> dict[str, dict[datetime, float]]:
            out: dict[str, dict[datetime, float]] = {}
            for r in rollup_by_time(self.cube, metric, cluster, unit, zone).collect():
                # An all-NULL sum (no CPU counter) zero-fills like a
                # missing bucket, as in serving.timeseries.
                if r["value"] is not None:
                    out.setdefault(r["userName"], {})[r["bucket"]] = r["value"]
            return out

        return self.cache.get_or_build((cluster, unit, zone, metric), build)

    def _axis(self, cluster: str, unit: str, zone: str, start_ms: int, end_ms: int) -> Axis:
        def build() -> Axis:
            lo, hi = self.time_range(cluster)
            clamp = self.spark.range(1).select(
                F.lit(lo).cast("long").alias("min_ms"), F.lit(hi).cast("long").alias("max_ms")
            )
            axis = serving.dense_axis(self.spark, unit, zone, start_ms, end_ms, clamp=clamp)
            rows = axis.select(
                "bucket", serving.local_date_label(F.col("bucket"), zone).alias("time")
            ).collect()
            return tuple(sorted((r["bucket"], r["time"]) for r in rows))

        return self.lookups.get_or_build(("axis", cluster, unit, zone, start_ms, end_ms), build)

    # -- /api/usage (S10) --------------------------------------------
    def usage(
        self,
        start_ms: int,
        end_ms: int,
        unit: str,
        zone: str,
        users: list[str],
        cluster: str,
        metric: str = "minutesTotal",
        users_to_aggregate: list[str] | None = None,
    ) -> dict[str, Any]:
        series = self._series(cluster, unit, zone, metric)
        axis = self._axis(cluster, unit, zone, start_ms, end_ms)
        # Every selected name gets one point per axis bucket; with no
        # names (or no buckets) the reply carries no points at all.
        buckets = [b for b, _ in axis] if users or users_to_aggregate else []
        agg = None
        if users_to_aggregate and buckets:
            idx = {b: i for i, b in enumerate(buckets)}
            agg = [0.0] * len(buckets)
            for u in dict.fromkeys(users_to_aggregate):
                for b, v in series.get(u, {}).items():
                    i = idx.get(b)
                    if i is not None:
                        agg[i] += v
        return {
            # Buckets are naive datetimes that *are* UTC instants (the
            # cube stores hour-aligned UTC); pin the conversion so the
            # reference's epoch-ms-UTC contract (server/app.rb:80-106)
            # holds on non-UTC driver hosts too — datetime.timestamp()
            # alone would re-interpret them in the OS zone.
            "times": [int(b.replace(tzinfo=timezone.utc).timestamp() * 1000) for b in buckets],
            "users": [
                {"user": u, "data": [series.get(u, {}).get(b, 0.0) for b in buckets]}
                for u in (users if buckets else [])
            ],
            "users_aggregated": agg,
            "num_aggregated_users": len(users_to_aggregate or []),
            "cluster": cluster,
        }

    # -- /api/table (S11) --------------------------------------------
    def table_csv(
        self,
        start_ms: int,
        end_ms: int,
        unit: str,
        zone: str,
        users: list[str],
        cluster: str,
        metric: str = "minutesTotal",
    ) -> str:
        series = self._series(cluster, unit, zone, metric)
        axis = self._axis(cluster, unit, zone, start_ms, end_ms)
        out = ["time," + ",".join(users)]
        if users:
            cols = [series.get(u, {}) for u in users]
            for b, label in sorted(axis, key=lambda p: (p[1], p[0])):
                out.append(label + "," + ",".join(f"{c.get(b, 0.0) / 60.0:g}" for c in cols))
        return "\n".join(out) + "\n"

    def on_data_loaded(self) -> None:
        """I4 — invalidate cached roll-ups and lookups after a refresh."""
        self.cache.invalidate()
        self.lookups.invalidate()
