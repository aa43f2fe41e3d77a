"""The serving side shared by ``dashboard_read`` and
``refresh_under_load``: the in-process HTTP server over a cube, the
request keys and windows, closed-loop clients, and the optional spans
around the serving layers' public functions."""

from __future__ import annotations

import contextlib
import http.client
import os
import random
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import urlencode

from perfbench import etl, loggen
from perfbench.harness import Tracer
from perfbench.twin import METRICS, UNITS

ZONES = ("UTC", "America/Los_Angeles", "Asia/Kolkata", "Australia/Adelaide")
TOP_USERS = 10


def all_keys() -> list[tuple[str, str, str, str]]:
    """(cluster, unit, zone, metric): the roll-up cache's key space."""
    return [(c, u, z, m) for c in loggen.CLUSTERS for u in UNITS for z in ZONES for m in METRICS]


def full_ranges(cube: dict[tuple, tuple]) -> dict[str, tuple[int, int]]:
    """Per cluster, the window a request gets when it names none: the
    cube's full time range, first to last hour bucket (as ``api``
    defaults it in ``__main__.cmd_api``)."""
    out: dict[str, tuple[int, int]] = {}
    for k in cube:
        lo, hi = out.get(k[2], (k[1], k[1]))
        out[k[2]] = (min(lo, k[1]), max(hi, k[1]))
    return out


def top_users(cube: dict[tuple, tuple]) -> dict[str, tuple[list[str], list[str]]]:
    """Per cluster: the heaviest users by elapsed time (shown), and the rest (aggregated)."""
    totals: dict[str, dict[str, int]] = {}
    for k, v in cube.items():
        t = totals.setdefault(k[2], {})
        t[k[0]] = t.get(k[0], 0) + v[2]
    out = {}
    for c, t in totals.items():
        ranked = sorted(t, key=lambda u: (-t[u], u))
        out[c] = (ranked[:TOP_USERS], sorted(ranked[TOP_USERS:]))
    return out


@dataclass
class Served:
    """``UsageApi`` over the persisted cube view, behind ``make_server``
    on a daemon thread. The refresh hook re-reads the cube the way
    ``serve`` does: ``refreshByPath``, then unpersist and re-persist."""

    spark: object
    cube_path: str
    api: object = None
    server: object = None
    thread: threading.Thread = None
    repersist_s: list = field(default_factory=list)

    def start(self) -> "Served":
        from white_elephant_spark.plans.api import UsageApi
        from white_elephant_spark.server import make_server

        view = etl.serving_view(etl.read_exact_cube(self.spark, self.cube_path))
        view.persist().count()
        self.api = UsageApi(self.spark, view)
        self.server = make_server(self.api, port=0, on_refresh=self._reload)
        self.thread = threading.Thread(target=self.server.serve_forever, name="http-server", daemon=True)
        self.thread.start()
        return self

    def _reload(self) -> None:
        t0 = time.perf_counter()
        self.spark.catalog.refreshByPath(os.path.abspath(self.cube_path))
        self.api.cube.unpersist()
        self.api.cube.persist().count()
        self.repersist_s.append(time.perf_counter() - t0)

    @property
    def port(self) -> int:
        return self.server.server_address[1]

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=60)
        self.api.cache.clear()
        self.api.cube.unpersist()


@dataclass
class Request:
    route: str
    params: dict
    start: float
    end: float
    status: int
    body: bytes

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Client:
    """One keep-alive connection; a closed loop sends its next request
    only after the previous reply has been read."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def call(self, method: str, route: str, params: dict | None = None) -> Request:
        path = route + ("?" + urlencode(params) if params and method == "GET" else "")
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path)
            resp = self.conn.getresponse()
            body, status = resp.read(), resp.status
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            body, status = str(e).encode(), 0
        return Request(route, params or {}, t0, time.perf_counter(), status, body)

    def close(self) -> None:
        self.conn.close()


def usage_params(key, window, users, rest) -> dict:
    cluster, unit, zone, metric = key
    return {
        "start": window[0], "end": window[1], "unit": unit, "zone": zone, "cluster": cluster,
        "type": metric, "user": ",".join(users), "users_to_aggregate": ",".join(rest),
    }


def run_closed_loop(n_clients: int, port: int, stop, next_request, name: str) -> list[Request]:
    """Run ``n_clients`` closed-loop threads until ``stop()`` is true;
    ``next_request(rng)`` returns (method, route, params)."""
    out: list[Request] = []
    lock = threading.Lock()
    errors: list[BaseException] = []

    def loop(i: int) -> None:
        rng = random.Random(f"{name}:{i}")
        client = Client(port)
        try:
            while not stop():
                req = client.call(*next_request(rng))
                with lock:
                    out.append(req)
        except BaseException as e:  # re-raised after join
            errors.append(e)
        finally:
            client.close()

    threads = [threading.Thread(target=loop, args=(i,), name=f"{name}-{i}") for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return out


def for_seconds(seconds: float):
    """A ``stop`` callable for :func:`run_closed_loop`."""
    deadline = time.perf_counter() + seconds
    return lambda: time.perf_counter() >= deadline


class LayerProbe:
    """Spans around the serving layers' public functions, installed for
    the traced phase only: ``UsageApi`` methods on the instance, the
    ``plans.serving`` functions and ``rollup_by_time`` where ``plans.api``
    looks them up. Each span tags its Spark jobs with its name. The
    engine's code is not changed; ``restore`` puts the originals back."""

    def __init__(self, api, tr: Tracer):
        self.api, self.tr = api, tr
        self.hits = self.misses = 0
        self.hit_s: list[float] = []
        self.miss_s: list[float] = []
        self.rows: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _wrap(self, owner, attr: str, span: str) -> None:
        orig = getattr(owner, attr)
        tr = self.tr

        def wrapped(*a, **kw):
            with tr.span(span):
                return orig(*a, **kw)

        self._saved.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, wrapped)

    def install(self) -> "LayerProbe":
        from white_elephant_spark.plans import api as api_mod
        from white_elephant_spark.plans import serving

        for fn in ("clamp_range", "dense_axis", "timeseries", "csv_table"):
            self._wrap(serving, fn, f"serving.{fn}")
        self._wrap(api_mod, "rollup_by_time", "metrics.rollup_by_time")
        cache = self.api.cache
        orig_get = cache.get_or_build
        probe = self

        def get_or_build(key, build):
            built = []

            def counted():
                built.append(True)
                return build()

            with probe.tr.span("cache.get_or_build"):
                df = orig_get(key, counted)
            probe._local.miss = bool(built)
            with probe._lock:
                if built:
                    probe.misses += 1
                else:
                    probe.hits += 1
            return df

        self._saved.append((cache, "get_or_build", _MISSING))
        cache.get_or_build = get_or_build
        for method, span in (("usage", "api.usage"), ("table_csv", "api.table"), ("users", "api.users"),
                             ("clusters", "api.clusters")):
            self._wrap_api(method, span)
        return self

    def _wrap_api(self, method: str, span: str) -> None:
        orig = getattr(self.api, method)
        probe = self

        def wrapped(*a, **kw):
            probe._local.miss = None
            t0 = time.perf_counter()
            with probe.tr.span(span):
                out = orig(*a, **kw)
            dt = time.perf_counter() - t0
            if method == "usage":
                n = len(out["times"]) * (len(out["users"]) + (1 if out["users_aggregated"] else 0))
                (probe.miss_s if probe._local.miss else probe.hit_s).append(dt)
            elif method == "table_csv":
                n = out.count("\n") - 1
            else:
                n = len(out)
            with probe._lock:
                probe.rows.append(n)
            return out

        self._saved.append((self.api, method, _MISSING))
        setattr(self.api, method, wrapped)

    def restore(self) -> None:
        for owner, attr, old in reversed(self._saved):
            if old is _MISSING:
                with contextlib.suppress(AttributeError):
                    delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._saved.clear()


_MISSING = object()

