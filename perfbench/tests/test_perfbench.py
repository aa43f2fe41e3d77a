"""Tests of the benchmark itself: the seeded log generator, the event-log
parser on a recorded fixture, and the metric names against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import eventlog, loggen, run  # noqa: E402


def _corpus(seed: int) -> loggen.DayCorpus:
    return loggen.generate(seed, range(2), jobs=6, n_users=20)


def test_generator_is_byte_identical_for_a_seed():
    a, b = _corpus(7), _corpus(7)
    assert a.files == b.files
    assert a.attempts == b.attempts
    assert loggen.expected_cube(a.attempts) == loggen.expected_cube(b.attempts)


def test_generator_differs_across_seeds():
    a, b = _corpus(7), _corpus(8)
    assert a.files.keys() == b.files.keys()  # same layout, different content
    assert a.files != b.files
    assert loggen.expected_cube(a.attempts) != loggen.expected_cube(b.attempts)


def test_generator_layout_and_hostile_content():
    c = _corpus(3)
    names = [os.path.basename(p) for p in c.files]
    assert any(n.startswith("_") for n in names) and any(n.startswith(".") for n in names)
    for path in c.files:
        parts = path.split(os.sep)
        assert parts[0] == loggen.ROOT_NAME and parts[1] in loggen.CLUSTERS and parts[2] == "daily"
    text = "".join(c.files.values())
    for marker in ("MapAttempt ", "ReduceAttempt ", "Task TASKID=", "Job JOBID=", "COUNTERS=", "JOBNAME=\"etl \\\""):
        assert marker in text
    assert any(t.endswith("TASK_ATT") for t in c.files.values())  # a line cut off mid-write
    statuses = {a.status for a in c.attempts}
    assert {"SUCCESS", "FAILED"} <= statuses


def test_expected_cube_prorates_like_the_engine():
    # 90 minutes starting at 00:30 touch two hours: 30 + 60 minutes.
    t0 = loggen.day_epoch_ms(0)
    a = loggen.Attempt("job_1_1", "task_1_1_m_000000", "attempt_1_1_m_000000_0", "u", "alpha", "MAP",
                       "SUCCESS", t0 + 1_800_000, t0 + 7_200_000, (("CPU_MILLISECONDS", 999),))
    cube = loggen.expected_cube([a])
    rows = sorted(cube.items(), key=lambda kv: kv[0][1])
    assert [k[1] - t0 for k, _ in rows] == [0, 3_600_000]
    assert [v[2] for _, v in rows] == [1_800_000, 3_600_000]
    assert [v[3] for _, v in rows] == [333, 666]  # floor(1/3 * 999), floor(2/3 * 999)
    assert [v[0] for _, v in rows] == [1, 0] and [v[1] for _, v in rows] == [0, 1]


def test_event_log_parser_on_recorded_fixture():
    groups = eventlog.read_event_log(os.path.join(HERE, "fixtures", "eventlog_small.jsonl"))
    # Recorded from a two-partition repartition + groupBy under the
    # group "bench.group": adaptive execution runs the shuffle map stage
    # as its own job, then a second job whose copy of it is skipped.
    g = groups["bench.group"]
    assert g.jobs == 2
    assert len(g.stages) == 3
    assert g.tasks == 4  # two map tasks, two reduce tasks
    assert g.shuffle_write_bytes > 0 and g.shuffle_read_bytes == g.shuffle_write_bytes
    assert g.executor_run_ms > 0 and g.executor_cpu_ns > 0
    assert 0 < g.busy_s() <= sum(b - a for a, b in g.task_intervals) / 1000
    assert "" in groups  # the untagged job lands under the empty group
    assert groups[""].single_task_stages == 1


def test_busy_time_is_the_union_of_task_intervals():
    g = eventlog.GroupMetrics(task_intervals=[(0, 1000), (500, 1500), (3000, 4000)])
    assert g.busy_s() == 2.5
    assert g.busy_s(lo_ms=1000, hi_ms=3500) == 1.0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    from perfbench import workloads

    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


def test_a_days_attempts_end_within_the_next_day():
    # What makes refresh_under_load's input window exact: the day before
    # the forced window is the last one whose attempts reach into it.
    c = _corpus(5)
    for a in c.attempts:
        day = int(a.job_id.split("_")[1]) // 10 - 20_000
        assert a.finish < loggen.day_epoch_ms(day + 2)


def test_day_globs_select_the_window(tmp_path):
    import glob

    from perfbench import etl

    c = loggen.generate(4, range(3), jobs=2, n_users=5)
    loggen.write_files(str(tmp_path), c.files)
    # the file source skips hidden names itself
    got = sorted(p for g in etl.day_globs(str(tmp_path), range(1, 3)) for p in glob.glob(g)
                 if not os.path.basename(p).startswith((".", "_")))
    want = sorted(str(tmp_path / p) for p in c.files
                  if not os.path.basename(p).startswith((".", "_")) and "/daily/2024/0308/" not in p)
    assert got == want and len(got) == 2 * 2 * len(loggen.CLUSTERS)
