"""Streaming usage-cube maintenance (SURVEY.md §2.7 I1-I6).

The reference refreshes its serving table with a polling loader: every
15 minutes it diffs the file listing against a ``LoadedFiles`` table,
loads new/changed Avro files, and deletes-then-reloads on change
(server/app/usage_loader.rb:26-199; usage_database.rb:92-118). Its
batch side reprocesses a forced window of recent days to absorb late
data (util/JobStatsProcessing.java:51-91).

Structured Streaming gives the same contract natively:

- file-listing diff (I3)  → the file source's checkpoint: each run
  processes exactly the files not seen by a previous trigger;
- 15-min polling (I4)     → ``trigger(processingTime=...)``, or
  ``availableNow`` for the reference's cron-style batch cadence;
- late-data window (I1)   → event-time watermark on the bucket hour:
  state for buckets older than the watermark is evicted, bounding
  memory exactly like ``num.days.forced`` bounds reprocessing;
- delete-then-reload (I5) → the ``foreachBatch`` upsert rewrites
  whole (cluster, day) partitions, so a partition is always a
  complete, consistent aggregate — never appended to.

The aggregation itself is the batch operators unchanged
(operators/usage.py): ``explode_attempt_hours`` is stateless, so the
same hour-explode + exact-integer sum runs under the streaming
micro-batch engine with state kept per cube key.

Scale: state size = live cube keys inside the watermark horizon
(users × hours × dims), independent of input volume; the upsert
touches only day partitions present in the trigger's updates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from white_elephant_spark.operators import usage
from white_elephant_spark.sources import incremental

#: parsed + excess-labeled attempts, the input grain of the usage
#: stage (ComputeUsagePerHour.java:232-255 consumes the same shape).
ATTEMPT_SCHEMA = (
    "jobId string, taskId string, taskAttemptId string, user string,"
    " cluster string, type string, taskStatus string, excess boolean,"
    " startTime long, finishTime long, counters map<string,long>"
)


def read_attempt_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """I3 — file-source stream over labeled-attempt parquet: the
    checkpoint tracks processed files, so each trigger sees only the
    diff (the ``LoadedFiles`` table, for free)."""
    return spark.readStream.schema(ATTEMPT_SCHEMA).parquet(input_dir)


def streaming_usage_cube(
    attempts: DataFrame, watermark: str | None = None
) -> DataFrame:
    """A1-A3 under the micro-batch engine. ``watermark`` (e.g.
    ``"2 hours"``) bounds agg state by event time — the streaming twin
    of ``num.days.forced``; None keeps all state (exact parity with a
    batch recompute)."""
    rows = usage.explode_attempt_hours(usage.filter_usable_attempts(attempts))
    if watermark is None:
        return usage.aggregate_usage_exact(rows)
    # Event-time tracking needs TIMESTAMP (session tz is UTC, so the
    # instant is unchanged); cast back after the agg so the streaming
    # cube's schema matches the batch cube exactly.
    rows = rows.withColumn("time", F.col("time").cast("timestamp")).withWatermark(
        "time", watermark
    )
    return usage.aggregate_usage_exact(rows).withColumn(
        "time", F.col("time").cast("timestamp_ntz")
    )


def upsert_batch(batch: DataFrame, path: str) -> None:
    """I5 sink — merge one trigger's updated cube rows into the
    materialized cube: affected day partitions are rewritten as
    (existing rows whose key was not updated) ∪ (updated rows), and
    written by :func:`incremental.write_day_partitions` (dynamic
    partition overwrite). ``localCheckpoint`` materializes the
    merge input so the write never scans the path it overwrites.
    At scale this is the ``MERGE`` pattern (Delta/Iceberg would
    replace the manual anti-join)."""
    spark = batch.sparkSession
    batch = batch.withColumn("day", F.to_date("time"))
    # Existence probe through the Hadoop FileSystem API, NOT
    # driver-local os.path — on HDFS/S3 a local check always says
    # "absent", which would skip the merge and let the dynamic
    # overwrite replace each affected partition with only this
    # trigger's keys (silent deletion of previously-written rows).
    from white_elephant_spark.sources.listing import HadoopFsListing

    has_existing = any(
        d.startswith("cluster=") for d in HadoopFsListing(spark).list_subdirs(path)
    )
    if has_existing:
        days = [r["day"] for r in batch.select("day").distinct().collect()]
        if not days:
            return
        old = spark.read.parquet(path).filter(F.col("day").isin(days))
        keep = old.join(
            batch.select(*usage.KEY_COLS), on=list(usage.KEY_COLS), how="left_anti"
        )
        out = keep.unionByName(batch.select(*keep.columns)).localCheckpoint(eager=True)
    else:
        out = batch
    incremental.write_day_partitions(out.drop("day"), path)


def run_refresh(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    watermark: str | None = None,
    processing_time: str | None = None,
):
    """I4 — one refresh cycle (``availableNow``: drain everything new,
    then stop — the reference's cron cadence; returns None after the
    drain) or a continuous 15-minute poller
    (``processing_time="15 minutes"`` — returns the live
    ``StreamingQuery`` so the caller can awaitTermination/stop/inspect
    exceptions instead of fishing it out of ``spark.streams.active``)."""
    cube = streaming_usage_cube(read_attempt_stream(spark, input_dir), watermark)
    writer = (
        cube.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, _epoch: upsert_batch(df, output_path))
    )
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return None
