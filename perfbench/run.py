"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, runs it against the
engine in this checkout for about ``--seconds`` of measurement, checks
every output, and prints a report of the workload's named metrics
(``# name = value unit (n=samples)``) followed, as the last line, by one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, taken from spans around the
engine's public functions and from Spark's event log.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import BenchError  # noqa: E402

#: end-to-end metrics: name → unit. What each means per workload is in
#: perfbench/README.md; every workload reports all of them. Peak RSS is
#: a report line only: the JVM's heap growth makes it vary by up to 40%
#: between runs, more than any bound the benchmark may set.
END_TO_END = {
    "setup_s": "s",
    "headline_s": "s",
    "ops_per_s": "1/s",
}

SPARK_LAYERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.driver_s": "s",
    "spark.single_task_stages": "count",
}

#: per-layer metrics: name → unit
PER_LAYER = {
    **SPARK_LAYERS,
    "sources.scan_s": "s",
    "sources.files": "count",
    "sources.input_mb": "MB",
    "sources.scan_tasks": "count",
    "parse.s": "s",
    "parse.lines": "count",
    "parse.records": "count",
    "parse.useful_frac": "ratio",
    "reconstruct.s": "s",
    "reconstruct.fragments": "count",
    "reconstruct.attempts": "count",
    "reconstruct.shuffle_mb": "MB",
    "usage.s": "s",
    "usage.hour_rows": "count",
    "usage.fanout": "ratio",
    "usage.cube_rows": "count",
    "usage.shuffle_mb": "MB",
    "sink.write_s": "s",
    "sink.files_written": "count",
    "sink.mb_written": "MB",
    "incremental.plan_s": "s",
    "incremental.days_rebuilt": "count",
    "incremental.build_write_s": "s",
    "incremental.attempts_scanned": "count",
    "incremental.scan_useful_frac": "ratio",
    "refresh.barrier_s": "s",
    "refresh.repersist_s": "s",
    "server.lock_wait_s": "s",
    "cache.hits": "count",
    "cache.misses": "count",
    "cache.hit_ratio": "ratio",
    "cache.evictions": "count",
    "rollup.miss_build_s": "s",
    "serving.clamp_s": "s",
    "serving.axis_s": "s",
    "serving.timeseries_s": "s",
    "serving.spark_jobs_per_request": "count",
    "api.usage_s": "s",
    "api.table_s": "s",
    "api.rows_collected": "count",
    "server.overhead_s": "s",
    "trace.overhead_s": "s",
    "trace.reconcile_frac": "ratio",
}

#: free RAM and disk each run needs (MB): the serving JVM peaks near 5 GB of RSS, the
#: refresh writer's JVM adds to it.
NEED_RAM_MB, NEED_DISK_MB = 8192, 1024
#: a run that is not done by then is stuck; dump stacks and exit non-zero
WATCHDOG_S = 175


def spark_layers(groups: dict, res) -> dict:
    """spark.* figures over the traced phase's job groups."""
    from perfbench.eventlog import MB, merge

    g = merge(groups, res.spark_groups)
    t0, t1 = res.traced_window
    offset = time.time() - time.perf_counter()
    lo, hi = (t0 + offset) * 1000, (t1 + offset) * 1000
    return {
        "spark.jobs": g.jobs,
        "spark.stages": len(g.stages),
        "spark.tasks": g.tasks,
        "spark.executor_run_s": g.executor_run_ms / 1000,
        "spark.executor_cpu_s": g.executor_cpu_ns / 1e9,
        "spark.gc_s": g.gc_ms / 1000,
        "spark.shuffle_write_mb": g.shuffle_write_bytes / MB,
        "spark.shuffle_read_mb": g.shuffle_read_bytes / MB,
        "spark.spill_mb": g.spill_bytes / MB,
        "spark.input_mb": g.input_bytes / MB,
        "spark.driver_s": (t1 - t0) - g.busy_s(lo, hi),
        "spark.single_task_stages": g.single_task_stages,
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, list[str]]:
    try:
        import white_elephant_spark  # noqa: F401
    except ImportError as e:
        raise BenchError(f"the engine is not importable from this checkout: {e}") from e
    from perfbench import harness, workloads, writer
    from perfbench.eventlog import GroupMetrics, read_event_log

    if workload not in workloads.WORKLOADS:
        raise BenchError(f"unknown workload {workload!r}; one of {', '.join(workloads.WORKLOADS)}")
    harness.check_resources(NEED_RAM_MB, NEED_DISK_MB)
    with harness.workdir() as work:
        # the writer's session starts beside this process's own
        helper = writer.Writer(work, trace).launch() if workload in workloads.USES_WRITER else None
        try:
            t0 = time.perf_counter()
            spark = harness.start_spark(work, trace, serve=True)
            session_s = time.perf_counter() - t0
            try:
                tr = harness.Tracer(spark)
                res = workloads.WORKLOADS[workload](spark, work, seed, seconds, tr, trace, helper)
                rss = harness.peak_rss_mb()
            finally:
                harness.stop_spark(spark)
        finally:
            if helper is not None:
                helper.close()
        groups = {}
        if trace:
            groups = read_event_log(harness.event_log_path(work))
            if os.path.isdir(os.path.join(work, writer.LOG_DIR)):
                groups.update(read_event_log(harness.event_log_path(work, writer.LOG_DIR)))
    report = [f"workload {workload} seed {seed} seconds {seconds:g} trace {int(trace)} nproc {harness.nproc()}"]
    named = {"session_start_s": (session_s, "s", 1), "peak_rss_mb": (rss, "MB", 1), **res.named}
    for name, (value, unit, n) in named.items():
        report.append(f"{name} = {value:.6g} {unit} (n={n})")
    for note in res.notes:
        report.append(f"FAILED: {note}")
    if not trace:
        values = {
            # set-up paths that run side by side count by the longer one
            "setup_s": max(session_s + res.setup_s, res.side_setup_s),
            "headline_s": res.headline_s,
            "ops_per_s": res.ops_per_s,
        }
        units = END_TO_END
    else:
        values = {name: 0.0 for name in PER_LAYER}
        values.update(spark_layers(groups, res))
        if "L.scan" in groups:
            workloads.etl_layer_spark(res, groups)
        api_calls = sum(tr.count(s) for s in ("api.usage", "api.table", "api.users", "api.clusters"))
        if api_calls:
            api_jobs = sum(groups.get(g, GroupMetrics()).jobs for g in workloads.API_GROUPS)
            values["serving.spark_jobs_per_request"] = api_jobs / api_calls
        values.update({k: v for k, v in res.layers.items() if k in PER_LAYER})
        units = PER_LAYER
        zeros = [k for k in PER_LAYER if values[k] == 0]
        report.append("zero on this workload: " + ", ".join(zeros))
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise BenchError(f"non-finite metrics: {bad}")
    out = {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
    return out, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)
    try:
        out, report = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        faulthandler.cancel_dump_traceback_later()
    for line in report:
        print("# " + line)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
