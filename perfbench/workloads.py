"""The workloads. Each takes the session, the private work
directory, the seed, the run length, the tracer, the trace flag and
the refresh writer process (``None`` unless in :data:`USES_WRITER`),
and returns a
:class:`Result` with its end-to-end numbers (tracing off) or its
per-layer numbers (tracing on, measured after an untraced phase of the
same length so the tracing overhead can be reported)."""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field
from datetime import date

from perfbench import etl, loggen, serving
from perfbench.eventlog import GroupMetrics
from perfbench.harness import Tracer, median, quantile
from perfbench.twin import Twin, table_matches, usage_matches
from perfbench.writer import INCREMENTAL_SPANS, Writer

MB = 1024 * 1024
SETUP_REPS = 3


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    #: report lines: name → (value, unit, samples)
    named: dict = field(default_factory=dict)
    #: per-layer metrics measured by the workload itself: name → value
    layers: dict = field(default_factory=dict)
    #: job groups whose Spark metrics make up this run's traced phase
    spark_groups: list = field(default_factory=list)
    #: (start, end) perf_counter window of the traced phase
    traced_window: tuple = (0.0, 0.0)
    #: set-up after the session start, and set-up run beside the session start
    setup_s: float = 0.0
    side_setup_s: float = 0.0
    headline_s: float = 0.0
    ops_per_s: float = 0.0
    notes: list = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        if len(self.notes) < 10:
            self.notes.append(why)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_size(path: str) -> tuple[int, int]:
    files = total = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(d, n))
    return files, total


# -- ETL layers ---------------------------------------------------------


def etl_layer_chain(spark, paths, cube_path, tr: Tracer, res: Result, n_files: int, input_bytes: int) -> dict:
    """Materialize each ETL layer's output prefix to ``noop`` under its
    own job group and fill the ETL per-layer metrics. A layer's self
    time is its prefix time minus its parent's; parse's parent is two
    scans, as the job and the attempt branch each read the files. Each
    prefix runs three times and keeps its median, as sub-second
    differences of single runs can come out negative. Counts run last,
    untimed. Returns the self times."""
    plan = Tracer(spark)
    st = etl.build_stages(spark, paths, plan)
    listing = plan.durations("sources.read_log_lines")[-1]
    tr.enabled = True
    try:
        for _ in range(3):
            for layer, dfs in (
                ("L.scan", [st.lines]),
                ("L.parse", [st.job_lines, st.attempt_lines]),
                ("L.reconstruct", [st.attempts]),
                ("L.usage", [st.cube]),
            ):
                with tr.span(layer):
                    for df in dfs:
                        _noop(df)
            with tr.span("L.sink"):
                etl.write_cube(st.cube, cube_path, plan)
    finally:
        tr.enabled = False
    prefix = {layer: median(tr.durations(layer)[-3:]) for layer in ("L.scan", "L.parse", "L.reconstruct", "L.usage", "L.sink")}
    n_lines = st.lines.count()
    n_jobs, n_frag = st.job_lines.count(), st.attempt_lines.count()
    n_att, n_hours, n_cube = st.attempts.count(), st.hour_rows.count(), st.cube.count()
    selves = {
        "sources.scan_s": listing + prefix["L.scan"],
        "parse.s": prefix["L.parse"] - 2 * prefix["L.scan"],
        "reconstruct.s": prefix["L.reconstruct"] - prefix["L.parse"],
        "usage.s": prefix["L.usage"] - prefix["L.reconstruct"],
        "sink.write_s": prefix["L.sink"] - prefix["L.usage"],
    }
    files, written = _dir_size(cube_path)
    res.layers.update(selves)
    res.layers.update(
        {
            "sources.files": n_files,
            "sources.input_mb": input_bytes / MB,
            "parse.lines": n_lines,
            "parse.records": n_jobs + n_frag,
            "parse.useful_frac": (n_jobs + n_frag) / n_lines,
            "reconstruct.fragments": n_frag,
            "reconstruct.attempts": n_att,
            "usage.hour_rows": n_hours,
            "usage.fanout": n_hours / n_att,
            "usage.cube_rows": n_cube,
            "sink.files_written": files,
            "sink.mb_written": written / MB,
        }
    )
    return selves


def etl_layer_spark(res: Result, groups: dict) -> None:
    """Event-log figures for the ETL layers: scan tasks and per-layer
    shuffle come from the prefix groups."""
    g = {k: groups.get(k, GroupMetrics()) for k in ("L.scan", "L.reconstruct", "L.usage", "sources.read_log_lines")}
    res.layers["sources.scan_tasks"] = g["L.scan"].tasks + g["sources.read_log_lines"].tasks
    res.layers["reconstruct.shuffle_mb"] = g["L.reconstruct"].shuffle_write_bytes / MB
    res.layers["usage.shuffle_mb"] = (g["L.usage"].shuffle_write_bytes - g["L.reconstruct"].shuffle_write_bytes) / MB


# -- dashboard_read -----------------------------------------------------

#: 62 days, so the month and quarter units have whole buckets inside
#: the range; 8 jobs per cluster-day keeps a full-range hour roll-up
#: (1.5k points × 11 series) inside the run's budget on 4 cores. The
#: sizes fit the run's time budget; they are not taken from a measured
#: deployment.
DASH_DAYS, DASH_JOBS, DASH_USERS, DASH_CLIENTS = 62, 8, 200, 3
KEY_ZIPF_S = 1.0
CHECK_SHARE = 0.2


class KeyDraw:
    """Zipf draw over a fixed shuffled ranking of the 1020 roll-up keys.
    The ranking is not seeded: which keys are hot sets each request's
    cost (over the full range an hour-unit key collects about 700x the
    points of a quarter-unit key), so a seeded ranking would make the
    latency depend on the draw. The ranking is arbitrary, not measured
    from dashboard traffic."""

    def __init__(self, keys: list):
        self.keys = list(keys)
        random.Random("keys").shuffle(self.keys)
        self.cum, acc = [], 0.0
        for i in range(len(self.keys)):
            acc += 1.0 / (i + 1) ** KEY_ZIPF_S
            self.cum.append(acc)

    def draw(self, rng: random.Random):
        return rng.choices(self.keys, cum_weights=self.cum)[0]


def _serving_setup(spark, cube_path: str, cube: dict) -> tuple[serving.Served, float]:
    """Write the cube through the engine's partitioned writer, then
    bring the server up over it (read, persist, listen) three times.
    Returns the last server, still up, and the median start time."""
    etl.write_expected_cube(spark, cube, cube_path)
    served, reps = None, []
    for _ in range(SETUP_REPS):
        if served is not None:
            served.close()
        t0 = time.perf_counter()
        served = serving.Served(spark, cube_path).start()
        reps.append(time.perf_counter() - t0)
    return served, median(reps)


def _latency(reqs, routes=None) -> list[float]:
    return [r.seconds for r in reqs if routes is None or r.route in routes]


def dashboard_read(spark, work: str, seed: int, seconds: float, tr: Tracer, trace: bool, writer=None) -> Result:
    """Closed-loop HTTP reads over a cube written during set-up: ~70%
    /api/usage, ~20% /api/table, ~10% /api/users and /api/clusters,
    keys drawn Zipf from a key space 16x the roll-up cache. Every
    request asks for its cluster's full range, the window the engine
    gives a request that names none."""
    res = Result()
    corpus = loggen.generate(seed, range(DASH_DAYS), DASH_JOBS, DASH_USERS)
    cube = loggen.expected_cube(corpus.attempts)
    served, serve_s = _serving_setup(spark, os.path.join(work, "cube"), cube)
    res.setup_s = serve_s
    users = serving.top_users(cube)
    ranges = serving.full_ranges(cube)
    keys = KeyDraw(serving.all_keys())

    def next_request(rng):
        roll = rng.random()
        key = keys.draw(rng)
        shown, rest = users[key[0]]
        p = serving.usage_params(key, ranges[key[0]], shown, rest)
        if roll < 0.7:
            return "GET", "/api/usage", p
        if roll < 0.9:
            del p["users_to_aggregate"]
            return "GET", "/api/table", p
        if roll < 0.95:
            return "GET", "/api/users", {"cluster": key[0]}
        return "GET", "/api/clusters", None

    def phase(name: str):
        # The seed picks the cube. Each client's stream of keys and
        # routes is the same for every seed, so runs differ in data, not
        # in hit/miss luck.
        return serving.run_closed_loop(
            DASH_CLIENTS, served.port, serving.for_seconds(seconds / 2 if trace else seconds), next_request, name)

    try:
        # One usage request compiles the roll-up plans once, so the
        # first timed requests are not all cold.
        warm = serving.Client(served.port)
        t0 = time.perf_counter()
        key = keys.keys[0]
        warm.call("GET", "/api/usage", serving.usage_params(key, ranges[key[0]], *users[key[0]]))
        warm.close()
        warmup_s = time.perf_counter() - t0
        cache = served.api.cache
        h0, m0 = cache.hits, cache.misses
        reqs = phase("dash")
        hits, misses = cache.hits - h0, cache.misses - m0
        if trace:
            traced = _traced_serving(served, tr, res, lambda: phase("dash-traced"))
            api_routes = ("/api/usage", "/api/table")
            untraced_api = _latency(reqs, api_routes)
            traced_api = _latency(traced, api_routes)
            api_spans = tr.durations("api.usage") + tr.durations("api.table")
            res.layers["trace.overhead_s"] = median(traced_api) - median(untraced_api)
            res.layers["trace.reconcile_frac"] = (
                (sum(api_spans) / len(api_spans) + res.layers["server.overhead_s"])
                / (sum(untraced_api) / len(untraced_api))
            )
            reqs = reqs + traced
        _check_dashboard(served.cube_path, reqs, seed, res)
    finally:
        served.close()
    usage_t, table_t = _latency(reqs, ("/api/usage",)), _latency(reqs, ("/api/table",))
    span = max(r.end for r in reqs) - min(r.start for r in reqs)
    res.headline_s = median(usage_t)
    res.ops_per_s = len(reqs) / span
    res.named = {
        "dash.usage_p50_s": (res.headline_s, "s", len(usage_t)),
        "dash.usage_p90_s": (quantile(usage_t, 0.9), "s", len(usage_t)),
        "dash.table_p50_s": (median(table_t) if table_t else float("nan"), "s", len(table_t)),
        "dash.read_p50_s": (median(_latency(reqs)), "s", len(reqs)),
        "dash.req_per_s": (res.ops_per_s, "1/s", len(reqs)),
        "dash.failed_frac": (res.failed / max(res.attempted, 1), "ratio", res.attempted),
        "dash.cache_hit_ratio": (hits / max(hits + misses, 1), "ratio", hits + misses),
        "dash.warmup_s": (warmup_s, "s", 1),
        "dash.keys": (len(keys.keys), "count", 1),
        "dash.cube_rows": (len(cube), "count", 1),
    }
    return res


def _check_dashboard(cube_path: str, reqs, seed: int, res: Result) -> None:
    """Every reply must be a 200; a seeded share of the usage and table
    replies, and every users/clusters reply, must equal the twin's."""
    rng = random.Random(f"check:{seed}")
    twin = Twin(cube_path)
    try:
        for r in reqs:
            res.attempted += 1
            if r.status != 200:
                res.fail(1, f"{r.route} -> {r.status}: {r.body[:200]!r}")
                continue
            p = r.params
            if r.route == "/api/clusters":
                bad = None if json.loads(r.body) == twin.clusters() else "clusters differ"
            elif r.route == "/api/users":
                bad = None if json.loads(r.body) == twin.users(p["cluster"]) else "users differ"
            elif rng.random() >= CHECK_SHARE:
                continue
            elif r.route == "/api/usage":
                want = twin.usage(p["cluster"], p["unit"], p["zone"], p["type"], p["start"], p["end"],
                                  p["user"].split(","), p["users_to_aggregate"].split(","))
                bad = usage_matches(json.loads(r.body), want)
            else:
                users = p["user"].split(",")
                want_rows = twin.table_rows(p["cluster"], p["unit"], p["zone"], p["type"], p["start"], p["end"], users)
                bad = table_matches(r.body.decode(), users, want_rows)
            if bad:
                res.fail(1, f"{r.route} {p.get('cluster')} {p.get('unit')} {p.get('zone')} {p.get('type')}: {bad}")
    finally:
        twin.close()


def _traced_serving(served, tr: Tracer, res: Result, run):
    """Run ``run()`` with the serving layers probed and fill the cache,
    roll-up, serving and API per-layer metrics. Returns its requests."""
    cache = served.api.cache
    held = len(cache._entries)
    probe = serving.LayerProbe(served.api, tr).install()
    tr.enabled = True
    t_start = time.perf_counter()
    try:
        reqs = run()
    finally:
        tr.enabled = False
        probe.restore()
    res.traced_window = (t_start, time.perf_counter())
    api_spans = tr.durations("api.usage") + tr.durations("api.table")
    n = max(len(api_spans), 1)
    http = _latency(reqs, ("/api/usage", "/api/table"))
    res.layers.update(
        {
            "cache.hits": probe.hits,
            "cache.misses": probe.misses,
            "cache.hit_ratio": probe.hits / max(probe.hits + probe.misses, 1),
            # every miss inserts one entry; entries not still held were
            # evicted (LRU, or dropped as stale after a refresh)
            "cache.evictions": held + probe.misses - len(cache._entries),
            "rollup.miss_build_s": (median(probe.miss_s) - median(probe.hit_s)) if probe.miss_s and probe.hit_s else 0.0,
            "serving.clamp_s": tr.total("serving.clamp_range") / n,
            "serving.axis_s": tr.total("serving.dense_axis") / n,
            "serving.timeseries_s": (tr.total("serving.timeseries") + tr.total("serving.csv_table")) / n,
            "api.usage_s": median(tr.durations("api.usage")) if tr.count("api.usage") else 0.0,
            "api.table_s": median(tr.durations("api.table")) if tr.count("api.table") else 0.0,
            "api.rows_collected": sum(probe.rows) / max(len(probe.rows), 1),
            "server.overhead_s": (sum(http) - sum(api_spans)) / max(len(http), 1),
        }
    )
    res.spark_groups = list(API_GROUPS)
    return reqs


API_GROUPS = ("api.usage", "api.table", "api.users", "api.clusters", "cache.get_or_build",
              "metrics.rollup_by_time", "serving.clamp_range", "serving.dense_axis", "serving.timeseries",
              "serving.csv_table")


# -- refresh_under_load -------------------------------------------------

#: 10 jobs per cluster-day (30 job files a day) keeps a refresh cycle
#: near 7 s on 4 cores, so a run holds several; sized to the run's
#: budget, not taken from a measured deployment.
REFRESH_JOBS, REFRESH_USERS, REFRESH_READERS, HOT_KEYS = 10, 150, 2, 16
#: ``incremental.refresh``'s default forced window, in days
NUM_DAYS_FORCED = 5
#: Days of logs each refresh reads: the forced window plus the day
#: before it, whose attempts can run past midnight into the window's
#: first day (attempts of a day end within the next one). So every
#: cycle reads the same amount of input, and the days it rebuilds come
#: out equal to a build over every log landed so far.
INPUT_DAYS = NUM_DAYS_FORCED + 1
#: A cycle takes 12-18 s with readers on 4 cores, so a run measures at
#: least this many whatever ``--seconds`` is. A traced run measures one
#: per half: its untraced half only serves the tracing overhead, and the
#: run must stay inside the time limit.
MIN_CYCLES, MIN_TRACED_CYCLES = 2, 1


def refresh_under_load(spark, work: str, seed: int, seconds: float, tr: Tracer, trace: bool,
                       writer: Writer) -> Result:
    """Two closed-loop readers on a hot set that fits the cache, while a
    writer cycles: land one new day of logs, run ``incremental.refresh``
    over the last ``INPUT_DAYS`` days of logs into the served cube (in
    the writer process, see ``writer.py``), then ``POST /api/refresh``,
    whose hook re-reads the cube as ``serve`` does. Freshness runs from
    the landing to the first ``/api/usage`` reply that shows the new
    day. After each cycle the served cube must equal a from-scratch
    recompute over every day landed so far."""
    res = Result()
    corpus_root = os.path.join(work, "corpus")
    cube_path = os.path.join(work, "cube")
    by_day = {d: loggen.generate(seed, range(d, d + 1), REFRESH_JOBS, REFRESH_USERS) for d in range(INPUT_DAYS)}
    for part in by_day.values():
        loggen.write_files(corpus_root, part.files)
    attempts = [a for part in by_day.values() for a in part.attempts]
    cube = loggen.expected_cube(attempts)
    users = serving.top_users(cube)
    hot = random.Random("hot").sample(serving.all_keys(), HOT_KEYS)  # fixed, as in KeyDraw
    # readers ask for the full range of the cube as it was when their request started
    view = {"ranges": serving.full_ranges(cube)}
    landed = [INPUT_DAYS]
    cycles: list[dict] = []
    served = client = None

    def next_read(rng):
        key = rng.choice(hot)
        shown, rest = users[key[0]]
        return "GET", "/api/usage", serving.usage_params(key, view["ranges"][key[0]], shown, rest)

    def cycle(traced: bool) -> None:
        d = landed[0]
        by_day[d] = part = loggen.generate(seed, range(d, d + 1), REFRESH_JOBS, REFRESH_USERS)
        window = range(d + 1 - INPUT_DAYS, d + 1)
        t0 = time.perf_counter()
        loggen.write_files(corpus_root, part.files)
        landed_s = time.perf_counter() - t0
        rep = writer.refresh(etl.day_globs(corpus_root, window), cube_path, traced)
        n_reload = len(served.repersist_s)
        bar = client.call("POST", "/api/refresh")
        cluster = loggen.CLUSTERS[d % len(loggen.CLUSTERS)]
        shown, rest = users[cluster]
        day0 = loggen.day_epoch_ms(d)
        probe = client.call("GET", "/api/usage", serving.usage_params(
            (cluster, "HOURS", "UTC", "minutesTotal"), (day0, day0 + loggen.DAY_MS - 1), shown, rest))
        fresh = time.perf_counter() - t0
        landed[0] = d + 1
        attempts.extend(part.attempts)
        want = loggen.expected_cube(attempts)
        view["ranges"] = serving.full_ranges(want)
        res.attempted += 1
        visible = False
        if bar.status == 200 and probe.status == 200:
            body = json.loads(probe.body)
            visible = any(v > 0 for s in [u["data"] for u in body["users"]] + [body["users_aggregated"]] for v in s)
        if not visible:
            res.fail(1, f"day {d} not visible after refresh: {bar.status} {probe.status} {probe.body[:200]!r}")
        got = etl.cube_rows_as_dict(served.api.cube)
        if got != want:
            res.fail(1, f"served cube after day {d} differs: " + "; ".join(etl.diff_cubes(got, want)))
        days = [(date.fromisoformat(x) - loggen.BASE_DAY).days for x in rep["days"]]
        scanned = [a for i in window for a in by_day[i].attempts]
        lo_ms, hi_ms = (loggen.day_epoch_ms(min(days)), loggen.day_epoch_ms(max(days) + 1)) if days else (0, 0)
        cycles.append({
            "fresh": fresh, "refresh": rep["s"], "spans": rep["spans"], "barrier": (bar.start, bar.end),
            "days": len(days), "scanned": len(scanned),
            "in_window": sum(1 for a in scanned if a.finish > lo_ms and a.start < hi_ms),
            "probe": probe.seconds, "landed": landed_s, "repersist": sum(served.repersist_s[n_reload:]),
        })

    def phase(budget: float, name: str, traced: bool):
        """Cycles that fit in ``budget``, readers throughout."""
        least = MIN_TRACED_CYCLES if trace else MIN_CYCLES
        done = threading.Event()
        box: dict = {}

        def read():
            box["reqs"] = serving.run_closed_loop(REFRESH_READERS, served.port, done.is_set, next_read, name)

        th = threading.Thread(target=read, name="readers")
        th.start()
        t_end = time.perf_counter() + budget
        try:
            n0 = len(cycles)
            # start a cycle only if one as long as the last ends in time
            while len(cycles) - n0 < least or time.perf_counter() + cycles[-1]["fresh"] <= t_end:
                cycle(traced)
        finally:
            done.set()
            th.join()
        return box.get("reqs", [])

    try:
        served, res.setup_s = _serving_setup(spark, cube_path, cube)
        writer.wait_ready()
        res.side_setup_s = writer.start_s
        client = serving.Client(served.port)
        cycle(False)  # warm-up: the first refresh in each process, checked but not timed
        warmup = cycles.pop()
        reqs = phase(seconds / 2 if trace else seconds, "read", False)
        measured = list(cycles)
        if trace:
            n0 = len(served.repersist_s)
            traced = _traced_serving(served, tr, res, lambda: phase(seconds / 2, "read-traced", True))
            tc = cycles[len(measured):]
            res.spark_groups += ["incremental.refresh"] + [f"incremental.{n}" for n in INCREMENTAL_SPANS]
            res.layers.update(_refresh_layers(tc, traced, served.repersist_s[n0:]))
            fresh_u = median([c["fresh"] for c in measured])
            res.layers["trace.overhead_s"] = median([c["fresh"] for c in tc]) - fresh_u
            # blocking path: landing, the refresh, the barrier, the probe
            res.layers["trace.reconcile_frac"] = median(
                [c["landed"] + c["refresh"] + (c["barrier"][1] - c["barrier"][0]) + c["probe"] for c in tc]) / fresh_u
            reqs = reqs + traced
            window = range(landed[0] - INPUT_DAYS, landed[0])
            logs = [os.path.join(corpus_root, p) for i in window for p in by_day[i].files
                    if not os.path.basename(p).startswith(("_", "."))]
            etl_layer_chain(spark, etl.day_globs(corpus_root, window), os.path.join(work, "chain-cube"), tr, res,
                            len(logs), sum(os.path.getsize(p) for p in logs))
        for r in reqs:
            res.attempted += 1
            if r.status != 200:
                res.fail(1, f"reader {r.status}: {r.body[:200]!r}")
    finally:
        if client is not None:
            client.close()
        if served is not None:
            served.close()
        writer.close()  # its event log is complete once it has stopped
    reads = _latency(reqs)
    span = max(r.end for r in reqs) - min(r.start for r in reqs)
    fresh = [c["fresh"] for c in measured]
    # every cycle reads this much: INPUT_DAYS days of logs
    inputs = [t for i in range(INPUT_DAYS) for p, t in by_day[i].files.items()
              if not os.path.basename(p).startswith(("_", "."))]
    res.headline_s = median(fresh)
    res.ops_per_s = len(reads) / span
    res.named = {
        "refresh.freshness_s": (res.headline_s, "s", len(fresh)),
        "refresh.read_p50_s": (median(reads), "s", len(reads)),
        "refresh.read_p90_s": (quantile(reads, 0.9), "s", len(reads)),
        "refresh.read_per_s": (res.ops_per_s, "1/s", len(reads)),
        "refresh.failed_frac": (res.failed / max(res.attempted, 1), "ratio", res.attempted),
        "refresh.cycles": (len(fresh), "count", 1),
        "refresh.slowest_cycle_s": (max(fresh), "s", len(fresh)),
        "refresh.writer_s": (median([c["refresh"] for c in measured]), "s", len(fresh)),
        "refresh.reload_s": (median([c["barrier"][1] - c["barrier"][0] for c in measured]), "s", len(fresh)),
        "refresh.writer_start_s": (writer.start_s, "s", 1),
        "refresh.warmup_cycle_s": (warmup["fresh"], "s", 1),
        "refresh.warmup_writer_s": (warmup["refresh"], "s", 1),
        "refresh.input_files": (len(inputs), "count", 1),
        "refresh.input_attempts": (sum(len(by_day[i].attempts) for i in range(INPUT_DAYS)), "count", 1),
        "refresh.input_mb": (sum(len(t.encode()) for t in inputs) / MB, "MB", 1),
    }
    return res


def _refresh_layers(cycles, reqs, repersist) -> dict:
    wait = 0.0
    for c in cycles:
        b0, b1 = c["barrier"]
        for r in reqs:
            wait += max(0.0, min(r.end, b1) - max(r.start, b0))
    n = max(len(cycles), 1)
    write = sum(c["spans"]["incremental.write_day_partitions"] for c in cycles)
    scanned = sum(c["scanned"] for c in cycles)
    return {
        "incremental.plan_s": (sum(c["refresh"] for c in cycles) - write) / n,
        "incremental.build_write_s": write / n,
        "incremental.days_rebuilt": sum(c["days"] for c in cycles) / n,
        "incremental.attempts_scanned": scanned / n,
        "incremental.scan_useful_frac": sum(c["in_window"] for c in cycles) / max(scanned, 1),
        "refresh.barrier_s": median([c["barrier"][1] - c["barrier"][0] for c in cycles]) if cycles else 0.0,
        "refresh.repersist_s": median(repersist) if repersist else 0.0,
        # reader time spent inside the refresh barrier
        "server.lock_wait_s": wait,
    }


#: workloads that take a refresh writer process (``writer.Writer``)
USES_WRITER = {"refresh_under_load"}

WORKLOADS = {
    "dashboard_read": dashboard_read,
    "refresh_under_load": refresh_under_load,
}
