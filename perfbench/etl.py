"""The log → cube pipeline as a user of the engine drives it, through
the public functions of ``sources.logfiles``, ``operators.parse``,
``operators.reconstruct``, ``operators.usage`` and the partitioned
writer of ``sources.incremental``, plus the cube adapter the serving
API needs.

The cube is the exact-integer one (``aggregate_usage_exact``, the
measure twins of ``build_usage_per_hour``): it is what
``incremental.refresh`` writes, so every cube here has the refresh's
partitioned layout, and its sums can be checked for equality.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import loggen
from perfbench.harness import Tracer


def log_glob(corpus_root: str) -> str:
    return os.path.join(corpus_root, loggen.ROOT_NAME, "*", "daily", "*", "*", "*.log")


def day_globs(corpus_root: str, days: range) -> list[str]:
    """The log files of ``days`` (day indices), every cluster."""
    out = []
    for i in days:
        d = loggen.BASE_DAY + timedelta(days=i)
        out.append(os.path.join(corpus_root, loggen.ROOT_NAME, "*", "daily", f"{d.year:04d}", f"{d.month:02d}{d.day:02d}", "*.log"))
    return out


@dataclass
class Stages:
    """Each layer's output; each is a prefix of the next layer's plan."""

    lines: DataFrame
    job_lines: DataFrame
    attempt_lines: DataFrame
    attempts: DataFrame
    hour_rows: DataFrame
    cube: DataFrame


def build_stages(spark: SparkSession, paths: str | list[str], tr: Tracer) -> Stages:
    """Plan the pipeline over the log files ``paths`` (globs): scan →
    parse → merge → user/cluster attach → excess labels → hour explode
    → exact hourly cube. Lazy: nothing runs until an output is
    materialized."""
    from white_elephant_spark.operators import parse, reconstruct, usage
    from white_elephant_spark.sources import logfiles

    with tr.span("sources.read_log_lines"):
        lines = logfiles.read_log_lines(spark, paths).withColumn(
            "cluster", logfiles.cluster_from_path(root_name=loggen.ROOT_NAME)
        )
    with tr.span("parse.parse_lines"):
        job_lines = parse.parse_job_lines(lines)
        attempt_lines = parse.parse_attempt_lines(lines)
    with tr.span("reconstruct.merge"):
        jobs = reconstruct.merge_job_fragments(job_lines, extra_keys=("cluster",))
        merged = reconstruct.filter_valid_attempts(
            reconstruct.merge_attempt_fragments(attempt_lines)
        )
        attached = merged.join(jobs.select("jobId", "user", "cluster"), "jobId")
        attempts = reconstruct.label_excess(attached)
    with tr.span("usage.build"):
        hour_rows = usage.explode_attempt_hours(usage.filter_usable_attempts(attempts))
        cube = usage.aggregate_usage_exact(hour_rows)
    return Stages(lines, job_lines, attempt_lines, attempts, hour_rows, cube)


def write_cube(cube: DataFrame, cube_path: str, tr: Tracer) -> None:
    from white_elephant_spark.sources import incremental

    with tr.span("sink.write_day_partitions"):
        incremental.write_day_partitions(cube, cube_path)


def labeled_attempts(spark: SparkSession, paths: str | list[str], tr: Tracer) -> DataFrame:
    """The attempts input that ``incremental.refresh`` takes."""
    return build_stages(spark, paths, tr).attempts


def write_expected_cube(spark: SparkSession, cube: dict[tuple, tuple], cube_path: str) -> None:
    """Write an expected cube (:func:`loggen.expected_cube`) through
    the engine's own partitioned writer, with the column types the
    engine's exact cube has, so serving set-up reads the same layout
    and types a refresh writes, without running the ETL."""
    from pyspark.sql import types as T
    from white_elephant_spark.sources import incremental

    schema = T.StructType(
        [T.StructField("user", T.StringType()), T.StructField("timeMs", T.LongType()),
         T.StructField("cluster", T.StringType()), T.StructField("excess", T.BooleanType()),
         T.StructField("type", T.StringType()), T.StructField("status", T.StringType())]
        + [T.StructField(m, T.LongType()) for m in loggen.MEASURES]
    )
    df = spark.createDataFrame([k + v for k, v in sorted(cube.items())], schema)
    df = df.withColumn("time", F.timestamp_millis("timeMs")).select(*loggen.KEY, *loggen.MEASURES)
    incremental.write_day_partitions(df, cube_path)


def read_exact_cube(spark: SparkSession, cube_path: str) -> DataFrame:
    from white_elephant_spark.sources import incremental

    return incremental.read_cube(spark, cube_path)


def serving_view(exact_cube: DataFrame) -> DataFrame:
    """Cube adapter: ``read_cube`` stores exact ms twins, while
    ``UsageApi`` and ``rollup_by_time`` read minutes measures. The
    projection keeps every other column as stored."""
    return exact_cube.withColumns(
        {
            "elapsedMinutes": F.col("elapsedMs") / 60000.0,
            "cpuMinutes": F.col("cpuMsProrated") / 60000.0,
        }
    )


def cube_rows_as_dict(df: DataFrame) -> dict[tuple, tuple]:
    """Collect an exact cube into :func:`loggen.expected_cube`'s shape."""
    keyed = df.select(
        "user",
        F.unix_millis("time").alias("time"),
        "cluster",
        "excess",
        "type",
        "status",
        *loggen.MEASURES,
    )
    out = {}
    for r in keyed.collect():
        out[tuple(r[k] for k in loggen.KEY)] = tuple(r[m] for m in loggen.MEASURES)
    return out


def diff_cubes(got: dict[tuple, tuple], want: dict[tuple, tuple], limit: int = 3) -> list[str]:
    """Human-readable differences, at most ``limit`` of them."""
    out = []
    for k in sorted(set(got) | set(want), key=repr):
        if got.get(k) != want.get(k):
            out.append(f"{k}: engine={got.get(k)} expected={want.get(k)}")
            if len(out) >= limit:
                break
    return out
