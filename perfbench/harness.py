"""Process-level plumbing shared by every workload: the private work
directory, the resource gate, the Spark session, memory readings,
spans with job groups, and timing statistics."""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")


class BenchError(RuntimeError):
    """The benchmark cannot run here; the message says why."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise BenchError(f"/proc/meminfo has no {key}")


def check_resources(need_ram_mb: float, need_disk_mb: float) -> None:
    """Refuse up front when the box cannot hold the chosen size."""
    ram = _meminfo_mb("MemAvailable")
    if ram < need_ram_mb:
        raise BenchError(f"needs {need_ram_mb:.0f} MB of free RAM, {ram:.0f} MB available")
    os.makedirs(WORK_BASE, exist_ok=True)
    st = os.statvfs(WORK_BASE)
    disk = st.f_bavail * st.f_frsize / 1024 / 1024
    if disk < need_disk_mb:
        raise BenchError(f"needs {need_disk_mb:.0f} MB of free disk, {disk:.0f} MB available")


@contextlib.contextmanager
def workdir():
    """A private directory inside the checkout for inputs, cubes, Spark
    scratch, the model store and the event log; removed on exit. The
    environment points Spark, the JVM and Python's tempfile into it,
    so nothing lands in the repo's own ``.scratch/`` or in ``/tmp``."""
    path = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    saved = {k: os.environ.get(k) for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_MODEL_DIR", "TMPDIR", "JAVA_TOOL_OPTIONS")}
    for sub in ("spark-local", "models", "tmp"):
        os.makedirs(os.path.join(path, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    os.environ["SPARK_GRAFT_MODEL_DIR"] = os.path.join(path, "models")
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(path, 'tmp')}"
    try:
        yield path
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_BASE)  # only when no other run is using it


#: the session conf ``serve`` starts its daemon with (``__main__.cmd_serve``)
SERVE_CONF = {"spark.scheduler.mode": "FAIR"}


def start_spark(work: str, trace: bool, log_dir: str = "eventlog", serve: bool = False):
    """The engine's own session with its production defaults; the only
    override is a master sized to this box. ``serve`` adds the conf the
    ``serve`` command runs its daemon with. A traced run adds an
    uncompressed single-file event log in ``work/<log_dir>`` and
    nothing else."""
    from white_elephant_spark.session import get_spark
    from white_elephant_spark.sources.catalog import ensure_engine_confs

    extra = dict(SERVE_CONF) if serve else {}
    if trace:
        os.makedirs(os.path.join(work, log_dir), exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=extra or None)
    ensure_engine_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def event_log_path(work: str, log_dir: str = "eventlog") -> str:
    files = [p for p in glob.glob(os.path.join(work, log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise BenchError(f"expected one event log file in {log_dir}, found {files}")
    return files[0]


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            child = int(stat.split("/")[2])
            out.append(child)
            out.extend(_children(child))
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its descendants (the
    Spark JVM and any Python workers still alive), from /proc."""
    me = os.getpid()
    return sum(_vm_hwm_mb(p) for p in [me, *_children(me)])


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    thread: str


@dataclass
class Tracer:
    """Spans around calls into the engine's public functions. When
    enabled, each span also tags the Spark jobs it triggers with a job
    group named after it, so the event log attributes them. Disabled,
    it only times; the spans are kept in memory until the run ends."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(name, name)
        stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent, parent)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(Span(name, t0, t1, parent, threading.current_thread().name))

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)
