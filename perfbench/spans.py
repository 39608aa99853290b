"""In-memory spans around the public functions of the engine's layers.

The traced run patches each function listed in ``LAYER_FUNCTIONS`` with a
wrapper that records ``(span id, name, start, end, parent, op id)``.  The
parent is the enclosing traced call on the same thread; the op id is the
benchmark request that caused the call, carried to the server thread in the
``X-Bench-Op`` header (``set_op``).  Spans stay in a list until the run ends.

Spans whose name is in ``JOB_SPANS`` also tag the Spark jobs they start with
a job group named after the span, so the run can count jobs and tasks per
span after the timed window.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time

# (module path, attribute path, span name)
LAYER_FUNCTIONS = [
    ("incubator_horaedb_spark.server", "EngineServer.handle_line_protocol", "server.write_handler"),
    ("incubator_horaedb_spark.server", "EngineServer.handle_prom_write", "server.write_handler"),
    ("incubator_horaedb_spark.server", "EngineServer.handle_sql", "server.sql_handler"),
    # handle_sql calls the module global, so patching the module attribute
    # is enough
    ("incubator_horaedb_spark.server", "sql_response", "server.sql_response"),
    # server.py binds the parser at import time; prom_remote and ingest are
    # imported inside the handlers, so their module attributes are patched
    ("incubator_horaedb_spark.server", "parse_line_protocol_typed", "frontends.influxql.parse"),
    ("incubator_horaedb_spark.frontends.prom_remote", "parse_remote_write_typed", "frontends.prom_remote.parse"),
    ("incubator_horaedb_spark.streaming.ingest", "ingest_rows", "streaming.ingest"),
    ("incubator_horaedb_spark.catalog", "Catalog.get", "catalog.get"),
    ("incubator_horaedb_spark.catalog", "Catalog.update", "catalog.update"),
    ("incubator_horaedb_spark.catalog", "Catalog.allocate_seq", "catalog.allocate_seq"),
    ("incubator_horaedb_spark.table", "Table.write", "table.write"),
    ("incubator_horaedb_spark.table", "Table.read", "table.read"),
    ("incubator_horaedb_spark.table", "Table.compact", "table.compact"),
    ("incubator_horaedb_spark.maintenance", "run_maintenance", "maintenance.run"),
    ("incubator_horaedb_spark.frontends.sql_shim", "Engine.execute_sql", "frontends.sql_shim.execute_sql"),
    ("incubator_horaedb_spark.frontends.sql_shim", "Engine.register_views", "frontends.sql_shim.register_views"),
    ("incubator_horaedb_spark.functions.sql_bindings", "register_sql_functions", "functions.sql_bindings.register"),
]

JOB_SPANS = {"table.write", "server.sql_response"}


class Tracer:
    """Span recorder.  ``install`` patches the layer functions and
    ``uninstall`` restores them; ``spans`` holds the finished spans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patched: list[tuple] = []

    # ------------------------------------------------------------- context
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_op(self, op: int | None) -> None:
        self._tls.op = op

    # ------------------------------------------------------------- patching
    def _wrapper(self, orig, name: str):
        tracer = self
        jobs = name in JOB_SPANS

        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            op = getattr(tracer._tls, "op", None)
            stack.append(sid)
            if jobs:
                tracer.sc.setJobGroup(f"span-{sid}", name)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                if jobs:
                    tracer.sc._jsc.clearJobGroup()
                stack.pop()
                tracer.spans.append((sid, name, t0, t1, parent, op))

        traced.__wrapped__ = orig
        return traced

    def install(self) -> None:
        import importlib

        for mod_name, path, name in LAYER_FUNCTIONS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrapper(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def wrap_request_handler(self, handler_cls) -> None:
        """Bind each POST's ``X-Bench-Op`` header to the server thread, so
        every span the request causes carries its op id."""
        orig = handler_cls.do_POST
        tracer = self

        def do_POST(handler):
            op = handler.headers.get("X-Bench-Op")
            tracer.set_op(int(op) if op else None)
            try:
                return orig(handler)
            finally:
                tracer.set_op(None)

        handler_cls.do_POST = do_POST
        self._patched.append((handler_cls, "do_POST", orig))

    def span_cost_ms(self, n: int = 20000) -> float:
        """Measured cost of one recorded span (wrapper minus bare call),
        for the tracing-overhead estimate."""

        def noop():
            return None

        wrapped = self._wrapper(noop, "trace.calibration")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        bare = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        cost = (time.perf_counter() - t0 - bare) / n * 1e3
        self.spans = [s for s in self.spans if s[1] != "trace.calibration"]
        return cost

    # ------------------------------------------------------------- spark jobs
    def job_counts(self) -> dict[int, tuple[int, int]]:
        """span id → (jobs, tasks) for spans in ``JOB_SPANS``."""
        tracker = self.sc.statusTracker()
        out = {}
        for sid, name, *_ in self.spans:
            if name not in JOB_SPANS:
                continue
            jobs = tracker.getJobIdsForGroup(f"span-{sid}")
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
            out[sid] = (len(jobs), tasks)
        return out


def self_times(spans: list[tuple]) -> dict[int, float]:
    """span id → self time in seconds: duration minus the union of the
    intervals its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, _name, t0, t1, parent, _op in spans:
        if parent is not None:
            children.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _name, t0, t1, _parent, _op in spans:
        covered, end = 0.0, t0
        for c0, c1 in sorted(children.get(sid, ())):
            c0, c1 = max(c0, end), min(c1, t1)
            if c1 > c0:
                covered += c1 - c0
                end = c1
        out[sid] = (t1 - t0) - covered
    return out


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
