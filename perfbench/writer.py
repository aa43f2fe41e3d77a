"""The refresh writer of ``refresh_under_load``: a process of its own
with its own Spark session, as a deployment runs its log ETL apart from
the serving daemon and then tells the daemon to re-read the cube.

A separate process is what keeps the two sessions apart: a session in
the server's JVM would share its cache manager, and its partition
overwrite would drop the served cube's cached blocks under in-flight
reads.

The parent talks to it over a pipe: each request names the log globs
and the cube path, and the writer answers with the days
``incremental.refresh`` rebuilt, its wall time and, when the request
asks for tracing, the time of each ``sources.incremental`` function
that ``refresh`` calls (each one also tags its Spark jobs with a job
group named after it, in the writer's own event log).
"""

from __future__ import annotations

import multiprocessing
import time
from multiprocessing import resource_tracker
import traceback

from perfbench import etl, harness
from perfbench.harness import BenchError, Tracer

#: the ``sources.incremental`` functions ``refresh`` looks up in its module
INCREMENTAL_SPANS = ("input_day_range", "existing_cluster_days", "build_day_cube", "write_day_partitions")
LOG_DIR = "eventlog-writer"
READY_TIMEOUT_S = 120
REFRESH_TIMEOUT_S = 150


def _refresh(spark, globs: list[str], cube_path: str, trace: bool) -> dict:
    from white_elephant_spark.sources import incremental

    tr = Tracer(spark, enabled=trace)
    saved = {n: getattr(incremental, n) for n in INCREMENTAL_SPANS} if trace else {}

    def wrap(fn, span):
        def wrapped(*a, **kw):
            with tr.span(span):
                return fn(*a, **kw)

        return wrapped

    for n, fn in saved.items():
        setattr(incremental, n, wrap(fn, f"incremental.{n}"))
    try:
        t0 = time.perf_counter()
        with tr.span("incremental.refresh"):
            days = incremental.refresh(etl.labeled_attempts(spark, globs, tr), cube_path)
        dt = time.perf_counter() - t0
    finally:
        for n, fn in saved.items():
            setattr(incremental, n, fn)
    spans = {f"incremental.{n}": tr.total(f"incremental.{n}") for n in INCREMENTAL_SPANS}
    return {"days": [d.isoformat() for d in days], "s": dt, "spans": spans}


def serve(conn, work: str, trace: bool) -> None:
    """The writer process: start a session, answer requests until the
    parent sends ``None``, stop the session and its JVM."""
    spark = harness.start_spark(work, trace, log_dir=LOG_DIR)
    try:
        conn.send({"ready_at": time.time()})
        while True:
            msg = conn.recv()
            if msg is None:
                break
            try:
                conn.send(_refresh(spark, msg["globs"], msg["cube"], msg["trace"]))
            except Exception:
                conn.send({"error": traceback.format_exc()})
    finally:
        harness.stop_spark(spark)
        conn.close()


class Writer:
    """The parent's handle on the writer process."""

    def __init__(self, work: str, trace: bool):
        ctx = multiprocessing.get_context("spawn")
        self.conn, self._child = ctx.Pipe()
        self.proc = ctx.Process(target=serve, args=(self._child, work, trace), name="refresh-writer")
        self.launched_at = 0.0
        #: launch to session up, as the process saw it
        self.start_s = 0.0

    def launch(self) -> "Writer":
        """Start the process; its session comes up while the caller
        goes on (see :meth:`wait_ready`)."""
        self.launched_at = time.time()
        self.proc.start()
        self._child.close()  # so the parent sees EOF if the process dies
        return self

    def wait_ready(self) -> None:
        self.start_s = self._recv(READY_TIMEOUT_S)["ready_at"] - self.launched_at

    def _recv(self, timeout: float) -> dict:
        if not self.conn.poll(timeout):
            raise BenchError(f"the refresh writer did not answer within {timeout:.0f} s")
        try:
            msg = self.conn.recv()
        except EOFError:
            raise RuntimeError(f"the refresh writer exited with code {self.proc.exitcode}") from None
        if "error" in msg:
            raise RuntimeError("refresh writer failed:\n" + msg["error"])
        return msg

    def refresh(self, globs: list[str], cube_path: str, trace: bool = False) -> dict:
        """Refresh ``cube_path`` from the logs ``globs``; the writer's reply."""
        self.conn.send({"globs": globs, "cube": cube_path, "trace": trace})
        return self._recv(REFRESH_TIMEOUT_S)

    def close(self) -> None:
        """Ask the process to stop its session and exit; wait for it.
        Closing twice is harmless."""
        if self.conn.closed:
            return
        if self.proc.is_alive():
            try:
                self.conn.send(None)
            except OSError:
                pass
            self.proc.join(90)
        if self.proc.is_alive():
            self.proc.terminate()
            self.proc.join(30)
        self.conn.close()
        # starting a process also started multiprocessing's resource
        # tracker; stop it and wait for it too
        resource_tracker._resource_tracker._stop()
