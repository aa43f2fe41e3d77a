"""Serving-layer time-series assembly (§3.2-§3.3 of SURVEY.md).

Reproduces the reference's ``get_time_range`` dense-axis construction
(server/app/usage_data.rb:291-440) and the ``/api/usage`` /
``/api/table`` response shaping (server/app.rb:44-157):

1. clamp the requested [start, end] to the cluster's MIN/MAX time
   (A10, usage_data.rb:279-310) — except HOURS, which the reference
   floors from the *raw* request bounds (:313-324, preserved quirk);
2. generate the dense bucket axis with the interior-bucket edge rules
   (DAYS/MONTHS: strictly interior buckets; WEEKS: Sunday-rounded then
   shrunk a week per side; QUARTERS: end shrunk one quarter, start
   not advanced — the reference's asymmetry, :401-433);
3. roll up the metric per (user, bucket), right-join the axis, fill
   gaps with 0 (W7);
4. shape: per-user series + one aggregated series for the non-selected
   users (A12), or the CSV table with minutes→hours and local dates
   (S11, app.rb:136-156).

Axis generation is ``sequence``+``explode`` on one driver row —
distributed, no Python loops; buckets stay naive-UTC instants.
The served path (plans/api.py ``UsageApi``, which the registry's
``usage_json_api``/``usage_csv_table_days`` call) uses the axis and
the clamp, collects the roll-up once per data generation and shapes
replies on the driver. :func:`timeseries` and :func:`csv_table` are
steps 3-4 as Spark plans: the independent reference the serving
differential (tests/test_serving_differential.py) checks those
replies against, not registry plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

HOUR_MS = 3_600_000


def _safe_seq(lo: Column, hi: Column, step: Column | None = None) -> Column:
    """``sequence(lo, hi)`` that yields NULL (→ no rows after
    ``explode``) when the range is empty — the reference's
    ``(start..end)`` Ruby ranges are empty, never an error, when
    start > end (usage_data.rb:326-433); Spark's ``sequence`` throws
    on inverted bounds with a positive step."""
    seq = F.sequence(lo, hi, step) if step is not None else F.sequence(lo, hi)
    return F.when(lo <= hi, seq)


def _local_day(ms: Column, zone: str) -> Column:
    """Local calendar date of a UTC epoch-ms instant."""
    return F.to_date(F.from_utc_timestamp(F.timestamp_millis(ms), zone))


def _day_to_utc_ts(day: Column, zone: str) -> Column:
    """Local midnight of a date, as a naive-UTC timestamp."""
    return F.to_utc_timestamp(day.cast("timestamp"), zone).cast("timestamp_ntz")


def dense_axis(
    spark: SparkSession,
    unit: str,
    zone: str,
    start_ms: int,
    end_ms: int,
    clamp: DataFrame | None = None,
) -> DataFrame:
    """One-column DataFrame ``bucket`` of dense axis timestamps.

    ``clamp`` is an optional 1-row DataFrame (min_ms, max_ms) — the
    A10 MIN/MAX range of the cube — applied to every unit except
    HOURS (reference quirk)."""
    unit = unit.upper()
    base = (clamp if clamp is not None else spark.range(1)).limit(1)
    if clamp is not None:
        s = F.greatest(F.lit(start_ms), F.col("min_ms"))
        e = F.least(F.lit(end_ms), F.col("max_ms"))
    else:
        s, e = F.lit(start_ms), F.lit(end_ms)

    if unit == "HOURS":
        # raw request bounds, hour-floored, inclusive (usage_data.rb:313-324)
        idx = _safe_seq(
            F.floor(F.lit(start_ms) / HOUR_MS), F.floor(F.lit(end_ms) / HOUR_MS)
        )
        return base.select(F.explode(idx).alias("h")).select(
            F.timestamp_millis(F.col("h") * HOUR_MS).cast("timestamp_ntz").alias("bucket")
        )

    sd, ed = _local_day(s, zone), _local_day(e, zone)
    if unit == "DAYS":
        # interior days only: start.next_day .. end.prev_day (:326-347)
        days = _safe_seq(F.date_add(sd, 1), F.date_sub(ed, 1), F.expr("interval 1 day"))
    elif unit == "WEEKS":
        # Sunday of each bound, then shrink one week per side (:349-374)
        sd = F.date_sub(sd, F.dayofweek(sd) - F.lit(1))
        ed = F.date_sub(ed, F.dayofweek(ed) - F.lit(1))
        days = _safe_seq(F.date_add(sd, 7), F.date_sub(ed, 7), F.expr("interval 7 days"))
    elif unit == "MONTHS":
        # interior months (:376-399)
        days = _safe_seq(
            F.add_months(F.trunc(sd, "month"), 1),
            F.add_months(F.trunc(ed, "month"), -1),
            F.expr("interval 1 month"),
        )
    elif unit == "QUARTERS":
        # quarter starts; end shrunk one quarter, start NOT advanced
        # (:401-433 — the reference's asymmetric edge rule)
        days = _safe_seq(
            F.trunc(sd, "quarter"),
            F.add_months(F.trunc(ed, "quarter"), -3),
            F.expr("interval 3 months"),
        )
    else:
        raise ValueError(f"bad unit: {unit}")

    return base.select(F.explode(days).alias("d")).select(
        _day_to_utc_ts(F.col("d"), zone).alias("bucket")
    )


def local_date_label(bucket: Column, zone: str) -> Column:
    """``/api/table``'s row label: the local %Y-%m-%d date of a
    naive-UTC bucket (app.rb:136-156)."""
    return F.date_format(F.from_utc_timestamp(bucket.cast("timestamp"), zone), "yyyy-MM-dd")


def clamp_range(usage: DataFrame, time_col: str = "time") -> DataFrame:
    """A10 — 1-row (min_ms, max_ms) clamp frame from the cube."""
    return usage.agg(
        F.unix_millis(F.min(time_col).cast("timestamp")).alias("min_ms"),
        F.unix_millis(F.max(time_col).cast("timestamp")).alias("max_ms"),
    )


def timeseries(
    series: DataFrame,
    axis: DataFrame,
    users: list[str],
    users_to_aggregate: list[str] | None = None,
    other_label: str = "__other__",
) -> DataFrame:
    """§3.2 steps 5-6: per-user dense series for ``users`` plus one
    aggregated series for ``users_to_aggregate`` (A12), zero-filled on
    the axis (W7). ``series`` has (userName, bucket, value)."""
    sel = series.filter(F.col("userName").isin(users))
    parts = [sel]
    if users_to_aggregate:
        agg = (
            series.filter(F.col("userName").isin(users_to_aggregate))
            .groupBy("bucket")
            .agg(F.sum("value").alias("value"))
            .select(F.lit(other_label).alias("userName"), "bucket", "value")
        )
        parts.append(agg)
    combined = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
    names = users + ([other_label] if users_to_aggregate else [])
    # axis x names as a literal-array projection: no driver-side
    # DataFrame (and no Python worker) for a handful of names
    axis_users = axis.select(
        "bucket",
        F.explode(F.array(*[F.lit(u) for u in names]).cast("array<string>")).alias("userName"),
    )
    return axis_users.join(combined, ["bucket", "userName"], "left").select(
        "userName",
        "bucket",
        F.coalesce(F.col("value"), F.lit(0)).alias("value"),
    )


def csv_table(
    series: DataFrame,
    axis: DataFrame,
    users: list[str],
    zone: str,
    to_hours: bool = True,
) -> DataFrame:
    """S11 — ``/api/table`` shape (app.rb:136-156): one row per
    bucket, ``time`` rendered as the local %Y-%m-%d date, one column
    per user, minutes→hours via a single division."""
    dense = timeseries(series, axis, users)
    val = (F.col("value") / 60.0) if to_hours else F.col("value")
    pivoted = (
        dense.withColumn("value", val)
        .groupBy("bucket")
        .pivot("userName", users)
        .sum("value")
    )
    out = pivoted.select(
        local_date_label(F.col("bucket"), zone).alias("time"),
        *[F.coalesce(F.col(u), F.lit(0.0)).alias(u) for u in users],
    )
    return out.orderBy("time")
