"""Incremental, idempotent cube refresh (I1-I5 + S7 in SURVEY.md §2.7).

The reference's incremental machinery, re-expressed Spark-first:

- **I1/I2 skip-if-output-exists**: the batch driver enumerates
  (cluster, year, day) work units and skips days whose output dir
  already exists, except the last ``num.days.forced`` days which are
  always reprocessed to pick up late/partial data
  (util/JobStatsProcessing.java:51-91;
  analysis/ComputeUsagePerHour.java:137-157;
  hadoop/config/jobs/base.properties:16-21).
  Here: :func:`plan_days` diffs the input's day range against the
  existing ``day=`` partition directories, unioning in the forced
  window.

- **S7 staged atomic output** (mapreduce/lib/job/StagedOutputJob.java
  :170-214) and **I5 per-file atomicity**
  (server/app/usage_file_load_task.rb:150-163): Spark's dynamic
  partition overwrite replaces exactly the partitions present in the
  new write, each committed atomically by the file committer — the
  partition is the unit of consistency, like the reference's staged
  day directory.

- **I3 changed-file reload** (server/app/usage_loader.rb:83-163) maps
  to the forced-window rebuild: a day partition is always recomputed
  *from scratch* out of all current input for that day, never
  appended to, so reprocessing is idempotent. The file-listing diff
  itself is the streaming checkpoint (streaming/cube_stream.py).

Storage: partition probing goes through the listing abstraction
(sources/listing.py). :func:`refresh` uses ``HadoopFsListing``, so the
incremental state works on local paths and on ``file://``, HDFS, S3,
GCS or ABFS URIs alike; the reference's equivalent probe is
``FileSystem.exists`` (JobStatsProcessing.java:71-79).

Scale: the refresh cost is O(days changed), not O(history). The input
scan is pruned by a pushed-down ``finishTime`` range predicate before
the hour explode, and the write touches only the planned day
partitions. At 100 TB / 1000 executors a daily refresh reads one
forced-window's worth of raw data and rewrites ~``num_days_forced``
partitions per cluster.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.operators import usage
from white_elephant_spark.sources.listing import HadoopFsListing, Listing, LocalListing

DAY_MS = 86_400_000


def existing_cluster_days(
    path: str, listing: Listing | None = None
) -> set[tuple[str, date]]:
    """I1 — the high-water-mark state at the reference's granularity:
    which (cluster, day) partitions exist under ``path``. The
    reference probes existence per cluster per day
    (JobStatsProcessing.java:71-79) — day-only tracking would let one
    cluster's built day permanently suppress building that day for a
    cluster whose history arrives later (late onboarding). Listing
    goes through the storage abstraction (sources/listing.py); pass
    :class:`~white_elephant_spark.sources.listing.HadoopFsListing`
    when the cube lives on HDFS/object storage."""
    listing = listing or LocalListing()
    out: set[tuple[str, date]] = set()
    for cluster_dir in listing.list_subdirs(path):
        if not cluster_dir.startswith("cluster="):
            continue
        cluster = cluster_dir[len("cluster=") :]
        for day_dir in listing.list_subdirs(os.path.join(path, cluster_dir)):
            if not day_dir.startswith("day="):
                continue
            try:
                out.add((cluster, date.fromisoformat(day_dir[len("day=") :])))
            except ValueError:
                # A foreign/hand-created dir (day=__HIVE_DEFAULT_
                # PARTITION__, day=backup) must not crash-loop every
                # future refresh — an unparseable partition simply
                # isn't high-water-mark state (drop-don't-error).
                continue
    return out


def existing_days(path: str, listing: Listing | None = None) -> set[date]:
    """Day-granular view of :func:`existing_cluster_days` (a day is
    "existing" when ANY cluster has it) — kept for coarse probes; the
    refresh planner uses the per-cluster form."""
    return {d for _c, d in existing_cluster_days(path, listing)}


def input_day_range(attempts: DataFrame) -> tuple[date, date]:
    """Min/max calendar day (GMT) any attempt's buckets can touch.

    Unusable attempts (P8: null / non-positive / inverted times) are
    excluded first — they can never contribute a bucket, and a single
    epoch-zero garbage row would otherwise stretch the planned range
    back to 1970, materializing a ~20k-day work list that
    ``build_day_cube`` then filters to nothing on every refresh."""
    attempts = usage.filter_usable_attempts(attempts)
    row = attempts.agg(
        F.min(F.to_date(F.timestamp_millis(F.col("startTime")))).alias("lo"),
        F.max(F.to_date(F.timestamp_millis(F.col("finishTime")))).alias("hi"),
    ).first()
    return row["lo"], row["hi"]


def plan_days(
    lo: date, hi: date, existing: set[date], num_days_forced: int = 5
) -> list[date]:
    """I1 work-unit selection: every day in [lo, hi] without existing
    output, plus the last ``num_days_forced`` days of the range
    unconditionally (base.properties:16-21 ``num.days.forced``)."""
    all_days = [lo + timedelta(days=i) for i in range((hi - lo).days + 1)]
    forced_floor = hi - timedelta(days=num_days_forced - 1)
    return [d for d in all_days if d not in existing or d >= forced_floor]


def plan_cluster_days(
    lo: date,
    hi: date,
    clusters: list[str],
    existing: set[tuple[str, date]],
    num_days_forced: int = 5,
) -> set[tuple[str, date]]:
    """Per-cluster work-unit selection — :func:`plan_days` at the
    reference's (cluster, day) granularity: for EACH input cluster,
    every day in [lo, hi] that cluster lacks, plus the forced window
    unconditionally. A day built for cluster A does not suppress
    building it for newly-arrived cluster B."""
    out: set[tuple[str, date]] = set()
    for c in clusters:
        have = {d for cc, d in existing if cc == c}
        out.update((c, d) for d in plan_days(lo, hi, have, num_days_forced))
    return out


def build_day_cube(
    attempts: DataFrame,
    days: list[date],
    pairs: set[tuple[str, date]] | None = None,
) -> DataFrame:
    """Exact-integer hourly cube restricted to bucket days ∈ ``days``
    (and, when ``pairs`` is given, to planned (cluster, day) units —
    clusters that already have a day keep it untouched).

    The coarse ``finishTime``/``startTime`` range predicate is applied
    *before* the explode so it can push down to the scan (an attempt
    only contributes to a day its [start, finish) span overlaps); the
    precise per-bucket filter runs after. ``pairs`` is work-list-sized
    (clusters × missing days), so its IN-filter is a broadcast-safe
    literal list, never a join.
    """
    if not days:
        raise ValueError("no days to build")
    lo, hi = min(days), max(days)
    lo_ms = (lo - date(1970, 1, 1)).days * DAY_MS  # 00:00 GMT of first day
    hi_ms = ((hi - date(1970, 1, 1)).days + 1) * DAY_MS  # end of last day
    att = attempts.filter(
        (F.col("finishTime") > F.lit(lo_ms)) & (F.col("startTime") < F.lit(hi_ms))
    )
    rows = usage.explode_attempt_hours(usage.filter_usable_attempts(att))
    if pairs is not None:
        # One predicate leg per planned day: (day == d AND cluster IN
        # {clusters planned for d}). A delimiter-joined string key
        # could alias a cluster name containing the delimiter into (or
        # out of) the plan; structural predicates cannot. Leg count is
        # work-list-bounded (≤ window days), each an isin literal list.
        by_day: dict[date, list[str]] = {}
        for c, d in sorted(pairs):
            by_day.setdefault(d, []).append(c)
        day_col = F.to_date("time")
        legs = [
            (day_col == F.lit(d.isoformat()).cast("date"))
            & F.col("cluster").isin(cs)
            for d, cs in sorted(by_day.items())
        ] or [F.lit(False)]  # empty plan: nothing to rebuild
        pred = legs[0]
        for leg in legs[1:]:
            pred = pred | leg
        rows = rows.filter(pred)
    else:
        rows = rows.filter(
            F.to_date("time").isin([d.isoformat() for d in days])
        )
    return usage.aggregate_usage_exact(rows)


def write_day_partitions(cube: DataFrame, path: str) -> None:
    """S7/I5 — dynamic partition overwrite by (cluster, day): only the
    partitions present in ``cube`` are replaced; everything else is
    untouched. Layout mirrors the reference's
    ``<root>/<cluster>/<yyyy>/<MMdd>`` day directories
    (JobStatsProcessing.java:62-67)."""
    spark = cube.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # Repartition on the partition keys first: one task owns each
        # (cluster, day), producing one well-sized file per partition
        # dir rather than shuffle_partitions × days small files.
        (
            cube.withColumn("day", F.to_date("time"))
            .repartition("cluster", "day")
            .write.mode("overwrite")
            .partitionBy("cluster", "day")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def refresh(attempts: DataFrame, path: str, num_days_forced: int = 5) -> list[date]:
    """I1-I5 end to end: plan the day set from the input range and the
    existing partitions, rebuild exactly those day partitions from all
    current input, overwrite them atomically. Returns the days built.
    Re-running with unchanged input is a no-op beyond the forced
    window and idempotent inside it. ``path`` may be a local path or
    any URI the session's Hadoop configuration resolves; existing
    partitions are probed through the Hadoop ``FileSystem`` API."""
    lo, hi = input_day_range(attempts)
    if lo is None:
        return []
    clusters = [
        r["cluster"] for r in attempts.select("cluster").distinct().collect()
    ]
    existing = existing_cluster_days(path, HadoopFsListing(attempts.sparkSession))
    pairs = plan_cluster_days(lo, hi, clusters, existing, num_days_forced)
    days = sorted({d for _c, d in pairs})
    if days:
        write_day_partitions(build_day_cube(attempts, days, pairs=pairs), path)
    return days


def read_cube(spark: SparkSession, path: str) -> DataFrame:
    """Read the materialized cube back; partition columns are
    reattached by partition discovery, ``day`` is dropped (derivable
    from ``time``)."""
    return spark.read.parquet(path).drop("day")
