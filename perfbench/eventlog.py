"""Per-job-group Spark metrics from an uncompressed JSON event log.

Spark writes one JSON object per line. Jobs carry their job group in
``SparkListenerJobStart.Properties["spark.jobGroup.id"]``; each
``SparkListenerTaskEnd`` carries its stage id, its launch and finish
times and its task metrics. Everything here is read from those two
event kinds plus ``SparkListenerStageCompleted`` for task counts.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class GroupMetrics:
    """Totals over every job of one job group."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    single_task_stages: int = 0
    task_intervals: list = field(default_factory=list)

    def busy_s(self, lo_ms: float | None = None, hi_ms: float | None = None) -> float:
        """Length of the union of task ``[launch, finish]`` intervals,
        clipped to ``[lo_ms, hi_ms]``: the time at least one executor
        worked for this group, i.e. its critical-path executor time."""
        spans = sorted(
            (max(a, lo_ms if lo_ms is not None else a), min(b, hi_ms if hi_ms is not None else b))
            for a, b in self.task_intervals
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total / 1000.0


def parse_event_log(lines) -> dict[str, GroupMetrics]:
    """Fold event-log lines into :class:`GroupMetrics` per job group.
    Jobs without a group are filed under ``""``."""
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    out: dict[str, GroupMetrics] = {}
    for raw in lines:
        raw = raw.strip()
        if not raw:
            continue
        ev = json.loads(raw)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            g = out.setdefault(group, GroupMetrics())
            g.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
                g.stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            g = out.setdefault(group, GroupMetrics())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            if info.get("Launch Time") and info.get("Finish Time"):
                g.task_intervals.append((info["Launch Time"], info["Finish Time"]))
            g.executor_run_ms += m.get("Executor Run Time", 0)
            g.executor_cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            sid = info.get("Stage ID")
            stage_tasks[sid] = info.get("Number of Tasks", 0)
    for sid, n in stage_tasks.items():
        if n == 1 and sid in stage_group:
            out[stage_group[sid]].single_task_stages += 1
    return out


def read_event_log(path: str) -> dict[str, GroupMetrics]:
    with open(path) as fh:
        return parse_event_log(fh)


def merge(groups: dict[str, GroupMetrics], names) -> GroupMetrics:
    """Sum the groups in ``names`` (missing names count as empty)."""
    out = GroupMetrics()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        out.jobs += g.jobs
        out.stages |= g.stages
        out.tasks += g.tasks
        out.executor_run_ms += g.executor_run_ms
        out.executor_cpu_ns += g.executor_cpu_ns
        out.gc_ms += g.gc_ms
        out.shuffle_write_bytes += g.shuffle_write_bytes
        out.shuffle_read_bytes += g.shuffle_read_bytes
        out.spill_bytes += g.spill_bytes
        out.input_bytes += g.input_bytes
        out.single_task_stages += g.single_task_stages
        out.task_intervals.extend(g.task_intervals)
    return out
