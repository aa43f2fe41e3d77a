"""Seeded Hadoop-1.x job-history corpus and its independent expected cube.

The corpus follows the reference layout
``<root>/logs/<cluster>/daily/<yyyy>/<MMdd>/<job>.log``, one file per job.
Every (seed, cluster, day) is generated from its own RNG stream, so a
corpus of days 0..N-1 is exactly the union of its days and the refresh
workload can land one more day without disturbing the earlier ones.

What the files contain, and why:

- Job, Task, MapAttempt and ReduceAttempt lines with ``COUNTERS``, each
  entity split into start and finish fragments on separate lines (the
  parser and the fragment merges both have work to do);
- exact duplicate fragments, a truncated line at the end of some files
  and ``Meta`` noise (parse must classify and drop);
- retried, killed, speculative and all-failed tasks (excess labelling);
- attempt durations log-uniform from seconds to hours, so the hour
  explode fans out unevenly;
- Zipf-skewed users, and hidden ``_``/``.`` poison files whose lines
  would corrupt the cube if the scan ever read them.

``expected_cube`` recomputes the exact-integer hourly cube
(``elapsedMs``/``cpuMsProrated`` and the integer measures) in pure
Python from the generator's own attempt records, never through the
engine, so every build and every refresh can be checked for equality.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone

CLUSTERS = ("alpha", "beta", "gamma")
ROOT_NAME = "logs"
# 2024-03-08: the first week spans the US spring-forward (2024-03-10)
# and Adelaide's autumn fall-back (2024-04-07) lies within a month.
BASE_DAY = date(2024, 3, 8)
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
MIN_ATTEMPT_MS = 5_000
MAX_ATTEMPT_MS = 4 * HOUR_MS
ZIPF_S = 1.1

#: Cube key and exact measures, as written by the engine's exact cube.
KEY = ("user", "time", "cluster", "excess", "type", "status")
MEASURES = ("started", "finished", "elapsedMs", "cpuMsProrated", "spilledRecords", "reduceShuffleBytes")


@dataclass(frozen=True)
class Attempt:
    """One task attempt as the fragment merges must reconstruct it:
    times are the max over its fragments, counters those of its last
    fragment in file order."""

    job_id: str
    task_id: str
    attempt_id: str
    user: str
    cluster: str
    type: str
    status: str
    start: int
    finish: int
    counters: tuple[tuple[str, int], ...]


@dataclass
class DayCorpus:
    """The files of one (cluster, day) and the attempts they encode."""

    files: dict[str, str]
    attempts: list[Attempt]
    lines: int


def day_epoch_ms(day_index: int) -> int:
    d = BASE_DAY + timedelta(days=day_index)
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp() * 1000)


def _users(n: int) -> tuple[list[str], list[float]]:
    names = [f"user{i:04d}" for i in range(n)]
    cum, acc = [], 0.0
    for i in range(n):
        acc += 1.0 / (i + 1) ** ZIPF_S
        cum.append(acc)
    return names, cum


def _duration(rng: random.Random) -> int:
    lo, hi = math.log(MIN_ATTEMPT_MS), math.log(MAX_ATTEMPT_MS)
    return int(math.exp(rng.uniform(lo, hi)))


def _counters_text(counters: tuple[tuple[str, int], ...]) -> str:
    groups = "".join(f"[({k})({k.lower().replace('_', ' ')})({v})]" for k, v in counters)
    return f' COUNTERS="{{(org.apache.hadoop.mapred.Task$Counter)(Map-Reduce Framework){groups}}}"'


def generate_day(seed: int, cluster: str, day_index: int, jobs: int, n_users: int) -> DayCorpus:
    """All job files of one cluster-day, deterministic in its arguments."""
    rng = random.Random(f"perfbench:{seed}:{cluster}:{day_index}")
    users, cum = _users(n_users)
    cluster_no = CLUSTERS.index(cluster) + 1
    job_prefix = 200_000 + day_index * 10 + cluster_no
    day0 = day_epoch_ms(day_index)
    d = BASE_DAY + timedelta(days=day_index)
    rel_dir = os.path.join(ROOT_NAME, cluster, "daily", f"{d.year:04d}", f"{d.month:02d}{d.day:02d}")
    files: dict[str, str] = {}
    attempts: list[Attempt] = []
    n_lines = 0

    for j in range(jobs):
        job_id = f"job_{job_prefix}_{j:05d}"
        user = rng.choices(users, cum_weights=cum)[0]
        submit = day0 + rng.randrange(DAY_MS)
        launch = submit + rng.randrange(1_000, 60_000)
        n_maps, n_reduces = rng.randint(1, 4), rng.randint(0, 2)
        name = f'etl \\"step {j}\\"' if rng.random() < 0.05 else f"etl-step-{j}"
        lines = [
            'Meta VERSION="1" .',
            f'Job JOBID="{job_id}" JOBNAME="{name}" USER="{user}" SUBMIT_TIME="{submit}"'
            f' JOBCONF="hdfs://nn/{user}/.staging/{job_id}/job.xml" JOB_QUEUE="default" .',
            f'Job JOBID="{job_id}" JOB_PRIORITY="NORMAL" .',
            f'Job JOBID="{job_id}" LAUNCH_TIME="{launch}" TOTAL_MAPS="{n_maps}"'
            f' TOTAL_REDUCES="{n_reduces}" JOB_STATUS="PREP" .',
        ]
        job_end = launch
        job_ok = True
        map_end = launch
        for kind, count in (("m", n_maps), ("r", n_reduces)):
            ttype = "MAP" if kind == "m" else "REDUCE"
            prefix = "MapAttempt" if kind == "m" else "ReduceAttempt"
            for t in range(count):
                task_id = f"task_{job_prefix}_{j:05d}_{kind}_{t:06d}"
                t_start = (launch if kind == "m" else map_end) + rng.randrange(100, 5_000)
                lines.append(f'Task TASKID="{task_id}" TASK_TYPE="{ttype}" START_TIME="{t_start}" SPLITS="" .')
                roll = rng.random()
                if roll < 0.10:  # retried: a failure, then a success
                    plan = ["FAILED", "SUCCESS"]
                elif roll < 0.13:  # killed, then re-run
                    plan = ["KILLED", "SUCCESS"]
                elif roll < 0.18:  # speculative pair: overlapping, loser killed
                    plan = ["SUCCESS", "KILLED*"]
                elif roll < 0.20:  # never succeeded: first attempt is not excess
                    plan = ["FAILED", "FAILED"]
                else:
                    plan = ["SUCCESS"]
                cursor = t_start
                t_end = t_start
                task_status = "FAILED"
                for a, status in enumerate(plan):
                    speculative = status.endswith("*")
                    status = status.rstrip("*")
                    attempt_id = f"attempt_{job_prefix}_{j:05d}_{kind}_{t:06d}_{a}"
                    start = cursor + rng.randrange(200, 3_000) if not speculative else cursor - rng.randrange(1, 1_000) * 10
                    dur = _duration(rng) if status == "SUCCESS" else max(1_000, _duration(rng) // 3)
                    if rng.random() < 0.01:
                        dur = 0  # zero-length attempts emit no buckets
                    finish = start + dur
                    cpu = int(dur * rng.uniform(0.2, 0.95))
                    counters: list[tuple[str, int]] = [("CPU_MILLISECONDS", cpu), ("SPILLED_RECORDS", rng.randrange(0, 50_000))]
                    if kind == "r":
                        counters.append(("REDUCE_SHUFFLE_BYTES", rng.randrange(1, 1 << 30)))
                    tracker = f"tracker_node{rng.randrange(64):02d}.{cluster}:localhost/127.0.0.1:4{rng.randrange(1000):03d}"
                    start_line = (
                        f'{prefix} TASK_TYPE="{ttype}" TASKID="{task_id}" TASK_ATTEMPT_ID="{attempt_id}"'
                        f' START_TIME="{start}" TRACKER_NAME="{tracker}" HTTP_PORT="50060" .'
                    )
                    finish_line = (
                        f'{prefix} TASK_TYPE="{ttype}" TASKID="{task_id}" TASK_ATTEMPT_ID="{attempt_id}"'
                        f' TASK_STATUS="{status}" FINISH_TIME="{finish}" HOSTNAME="/default-rack/node.{cluster}"'
                        + (f' ERROR="attempt {status.lower()}"' if status != "SUCCESS" else "")
                        + _counters_text(tuple(counters))
                        + " ."
                    )
                    lines.append(start_line)
                    lines.append(finish_line)
                    if rng.random() < 0.05:
                        lines.append(finish_line)  # duplicate fragment
                    attempts.append(
                        Attempt(job_id, task_id, attempt_id, user, cluster, ttype, status, start, finish, tuple(counters))
                    )
                    cursor = finish
                    t_end = max(t_end, finish)
                    if status == "SUCCESS":
                        task_status = "SUCCESS"
                lines.append(
                    f'Task TASKID="{task_id}" TASK_TYPE="{ttype}" TASK_STATUS="{task_status}"'
                    f' FINISH_TIME="{t_end}" .'
                )
                job_ok &= task_status == "SUCCESS"
                job_end = max(job_end, t_end)
                if kind == "m":
                    map_end = max(map_end, t_end)
        lines.append(
            f'Job JOBID="{job_id}" FINISH_TIME="{job_end + 500}" JOB_STATUS="{"SUCCESS" if job_ok else "FAILED"}"'
            f' FINISHED_MAPS="{n_maps}" FINISHED_REDUCES="{n_reduces}" FAILED_MAPS="0" FAILED_REDUCES="0" .'
        )
        text = "\n".join(lines) + "\n"
        if rng.random() < 0.1:
            # A writer cut off mid-line: no attempt id, so parse drops it.
            text += f'MapAttempt TASK_TYPE="MAP" TASKID="task_{job_prefix}_{j:05d}_m_000000" TASK_ATT'
        files[os.path.join(rel_dir, f"{job_id}.log")] = text
        n_lines += text.count("\n") + (0 if text.endswith("\n") else 1)

    # Hidden poison: a job line that would re-home the first job to a
    # bogus user, and an attempt with a year-long span.
    first = f"job_{job_prefix}_00000"
    poison = (
        f'Job JOBID="{first}" USER="poison" SUBMIT_TIME="1" .\n'
        f'MapAttempt TASK_TYPE="MAP" TASKID="task_{job_prefix}_00000_m_999999"'
        f' TASK_ATTEMPT_ID="attempt_{job_prefix}_00000_m_999999_0" TASK_STATUS="SUCCESS"'
        f' START_TIME="{day0}" FINISH_TIME="{day0 + 365 * DAY_MS}" .\n'
    )
    files[os.path.join(rel_dir, "_temporary-0.log")] = poison
    files[os.path.join(rel_dir, f".{first}.log.crc.log")] = poison
    return DayCorpus(files, attempts, n_lines)


def generate(seed: int, days: range, jobs: int, n_users: int) -> DayCorpus:
    """Union of :func:`generate_day` over every cluster and day."""
    out = DayCorpus({}, [], 0)
    for day_index in days:
        for cluster in CLUSTERS:
            part = generate_day(seed, cluster, day_index, jobs, n_users)
            out.files.update(part.files)
            out.attempts.extend(part.attempts)
            out.lines += part.lines
    return out


def write_files(root: str, files: dict[str, str]) -> None:
    """Write ``files`` under ``root``."""
    for rel, text in sorted(files.items()):
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)


def _excess(attempts: list[Attempt]) -> dict[str, bool]:
    by_task: dict[tuple[str, str], list[Attempt]] = {}
    for a in attempts:
        by_task.setdefault((a.job_id, a.task_id), []).append(a)
    out = {}
    for group in by_task.values():
        any_success = any(a.status == "SUCCESS" for a in group)
        first = min(group, key=lambda a: (a.start, a.attempt_id))
        for a in group:
            if a.status == "SUCCESS":
                out[a.attempt_id] = False
            else:
                out[a.attempt_id] = any_success or a is not first
    return out


def _add(acc: list, i: int, v: int | None) -> None:
    if v is not None:
        acc[i] = v if acc[i] is None else acc[i] + v


def expected_cube(attempts: list[Attempt]) -> dict[tuple, tuple]:
    """The exact-integer hourly cube keyed by :data:`KEY`.

    ``time`` is the bucket's epoch ms. Semantics: an attempt contributes
    to each GMT hour its ``[start, finish)`` span overlaps; prorated
    measures use the same IEEE-754 steps as the engine (divide, multiply,
    floor); ``reduceShuffleBytes`` repeats in every bucket; a measure
    absent from every attempt of a key sums to ``None``."""
    excess = _excess(attempts)
    cube: dict[tuple, list] = {}
    for a in attempts:
        if a.finish <= a.start:
            continue
        c = dict(a.counters)
        cpu, spilled, shuffle = c.get("CPU_MILLISECONDS"), c.get("SPILLED_RECORDS"), c.get("REDUCE_SHUFFLE_BYTES")
        span = a.finish - a.start
        for h in range(a.start // HOUR_MS, (a.finish - 1) // HOUR_MS + 1):
            b = h * HOUR_MS
            overlap = min(b + HOUR_MS, a.finish) - max(b, a.start)
            pct = overlap / span
            key = (a.user, b, a.cluster, excess[a.attempt_id], a.type, a.status)
            acc = cube.setdefault(key, [0, 0, 0, None, None, None])
            acc[0] += int(b + HOUR_MS >= a.start >= b)
            acc[1] += int(b + HOUR_MS >= a.finish >= b)
            acc[2] += overlap
            _add(acc, 3, None if cpu is None else math.floor(pct * cpu))
            _add(acc, 4, None if spilled is None else math.floor(pct * spilled))
            _add(acc, 5, shuffle)
    return {k: tuple(v) for k, v in cube.items()}
