#!/usr/bin/env python3
"""End-to-end benchmark of the HTTP-served engine.

    python3 perfbench/run.py --workload ingest_mix --seed 1 --seconds 12 --trace 0

Each run starts a fresh Spark JVM, an ``Engine`` over a new store under
``perfbench/.work`` and an in-process ``EngineServer``, and builds the
workload's fixture.  Closed-loop HTTP clients then run a fixed-count
warm-up and, without stopping, a timed window of ``--seconds``.  After the
clients stop, the run checks the outputs, prints one JSON line (the last
line of stdout) and removes the store.  With
``--trace 1`` the layer functions are wrapped in spans (spans.py) and the
line carries the per-layer metrics instead of the end-to-end ones.  The full
record of every run (calibration, sample counts, both metric sets) is
written to ``perfbench/out``.  See README.md for the workloads.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

CPUS = 4
SERIES = 50  # series per write request: host h00..h49, region r0..r3
POINTS = 20  # points per series per write request, 1 s apart
SLICE_MS = POINTS * 1000  # time covered by one write request

# ingest_mix: maintenance after every COMPACT_EVERY acked writes; the
# amplification metrics are read right after compaction AMP_AT_COMPACTION
COMPACT_EVERY = 6
AMP_AT_COMPACTION = 2
# dashboard: tables, and the fixture's points per series (1 per minute)
DASH_TABLES = 8
DASH_MINUTES = 60

# warm-up ops per client, by op kind (README.md, "Fixed set-up work")
WARMUP = {
    "ingest_mix": {"write": 6, "read": 2},
    "dashboard": {"write": 2, "read": 1},
}


# ---------------------------------------------------------------- inputs --
class Generator:
    """Every request body is a pure function of (seed, table, slot), so the
    same seed sends the same bytes whatever the timing."""

    def __init__(self, seed: int):
        self.seed = seed
        # hour-aligned, seed-dependent origin
        self.base_ms = 1_700_000_000_000 - 1_700_000_000_000 % 3_600_000
        self.base_ms += (seed % 997) * 3_600_000

    def points(self, table: str, slot: int, ts0: int, npts: int, step_ms: int):
        """(host, region, usage, idle, ts_ms) for SERIES series × npts."""
        rng = random.Random(f"{self.seed}:{table}:{slot}")
        out = []
        for s in range(SERIES):
            host, region = f"h{s:02d}", f"r{s % 4}"
            for p in range(npts):
                usage = rng.randrange(100_000) / 1000
                out.append((host, region, usage, rng.randrange(100), ts0 + p * step_ms))
        return out

    @staticmethod
    def line_protocol(table: str, pts) -> bytes:
        return "\n".join(
            f"{table},host={h},region={r} usage={u!r},idle={i}i {ts * 1_000_000}"
            for h, r, u, i, ts in pts
        ).encode()

    @staticmethod
    def remote_write(metric: str, pts) -> bytes:
        series: dict[tuple, list] = {}
        for h, r, u, _i, ts in pts:
            series.setdefault((h, r), []).append([ts, u])
        return json.dumps(
            [
                {"labels": {"__name__": metric, "host": h, "region": r}, "samples": s}
                for (h, r), s in series.items()
            ]
        ).encode()


@dataclass
class Request:
    kind: str  # "write" | "read" | "ddl"
    path: str
    body: bytes
    rows: int = 0  # rows carried by a write
    table: str = ""
    meta: dict = field(default_factory=dict)


@dataclass
class Op:
    op_id: int
    kind: str
    client: int
    t0: float
    t1: float
    ok: bool
    rows: int
    nbytes: int
    table: str
    meta: dict
    phase: str
    response: object = None


# ---------------------------------------------------------------- driving --
class Gate:
    """Lets clients run ops concurrently, and lets one caller run work with
    every client paused between ops."""

    def __init__(self):
        self._cv = threading.Condition()
        self._paused = False
        self._inflight = 0

    def enter(self) -> None:
        with self._cv:
            while self._paused:
                self._cv.wait()
            self._inflight += 1

    def exit(self) -> None:
        with self._cv:
            self._inflight -= 1
            self._cv.notify_all()

    def exclusive(self, fn):
        with self._cv:
            while self._paused:
                self._cv.wait()
            self._paused = True
            while self._inflight:
                self._cv.wait()
        try:
            return fn()
        finally:
            with self._cv:
                self._paused = False
                self._cv.notify_all()


def run_parallel(targets) -> None:
    """Run each callable on its own thread; re-raise the first error."""
    errors: list[BaseException] = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised after join
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(fn,), daemon=True) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=175)
        if t.is_alive():
            raise RuntimeError("worker thread did not finish")
    if errors:
        raise errors[0]


def store_files(root: str) -> dict[str, int]:
    """path → bytes of every parquet data file in the store."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def table_file_count(root: str, table: str) -> int:
    return len(store_files(os.path.join(root, "public", table, "data")))


class Run:
    """One workload's store, clients and bookkeeping.  Subclasses define the
    fixture, the clients and the output check."""

    def __init__(self, seed: int, store: str):
        self.seed = seed
        self.store = store
        self.gen = Generator(seed)
        self.gate = Gate()
        self.lock = threading.Lock()
        self.op_ids = iter(range(1, 1 << 62))
        self.ops: list[Op] = []
        self.loading = False  # False while the fixture is built
        self.acked_rows: dict[str, int] = {}
        self.payload_bytes = 0
        self.acked_writes = 0
        self.next_compact = COMPACT_EVERY
        self.compactions: list[dict] = []
        self.amp: dict | None = None  # space/write amplification at the fixed point
        self.bytes_by_writes = 0
        self.bytes_by_compaction = 0
        self.files_by_writes = 0
        self._snapshot: dict[str, int] = {}
        self.t_start: float | None = None  # timed window, set when warm-up ends
        self.deadline = float("inf")
        self._warmed = 0
        self.jvm_at: dict[str, dict] = {}  # "start"/"end" → JVM and dedup counters
        self.max_slot: dict[str, int] = {}  # table → newest acked slot
        self.spark = self.engine = None
        self.port = 0  # EngineServer's port
        self.server = None
        self.tracer = None
        self.jvm = None  # JvmProbe, set in traced runs: JIT time after each op

    # --------------------------------------------------------- HTTP client
    def send(self, client: int, req: Request) -> Op:
        op_id = next(self.op_ids)
        if self.tracer is not None and req.kind == "read" and req.table:
            req.meta["files_live"] = table_file_count(self.store, req.table)
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        ok, response = False, None
        t0 = time.perf_counter()
        try:
            conn.request("POST", req.path, req.body, {"X-Bench-Op": str(op_id)})
            resp = conn.getresponse()
            data = resp.read()
            t1 = time.perf_counter()
            if req.kind == "write":
                ok = resp.status == 204
            elif req.kind == "ddl":
                ok = resp.status == 200
            else:
                ok = resp.status == 200
                response = json.loads(data).get("rows") if ok else None
                ok = response is not None
            if not ok:
                print(f"# op {op_id} {req.path}: HTTP {resp.status} {data[:300]!r}", file=sys.stderr)
        except (OSError, http.client.HTTPException, ValueError) as e:
            t1 = time.perf_counter()
            print(f"# op {op_id} {req.path}: {e!r}", file=sys.stderr)
        finally:
            conn.close()
        return Op(op_id, req.kind, client, t0, t1, ok, req.rows, len(req.body), req.table,
                  req.meta, self.phase_of(t0, t1), response)

    def phase_of(self, t0: float, t1: float) -> str:
        """fixture | warmup | timed (started and ended inside the window)
        | cooldown (ended after it; load only, not measured)."""
        if not self.loading:
            return "fixture"
        if self.t_start is None or t0 < self.t_start:
            return "warmup"
        return "timed" if t1 <= self.deadline else "cooldown"

    def in_window(self, t: float) -> bool:
        return self.t_start is not None and self.t_start <= t <= self.deadline

    def record(self, op: Op) -> None:
        with self.lock:
            self.ops.append(op)
            if op.kind == "write" and op.ok:
                self.acked_rows[op.table] = self.acked_rows.get(op.table, 0) + op.rows
                self.payload_bytes += op.nbytes
                self.acked_writes += 1
                if "slot" in op.meta:
                    self.max_slot[op.table] = max(self.max_slot.get(op.table, -1), op.meta["slot"])

    # ------------------------------------------------------- store snapshots
    def snapshot_writes(self) -> None:
        """Account the files that appeared since the last snapshot to
        writes; call with no write in flight."""
        now = store_files(self.store)
        new = {p: b for p, b in now.items() if p not in self._snapshot}
        self._snapshot = now
        self.bytes_by_writes += sum(new.values())
        self.files_by_writes += len(new)

    def compact(self, tables: list[str], threads: int = 1) -> None:
        """One maintenance sweep over ``tables``, split over ``threads``
        concurrent sweeps of disjoint tables; call with clients paused."""
        from incubator_horaedb_spark import maintenance

        self.snapshot_writes()
        before = self._snapshot
        t0 = time.perf_counter()
        run_parallel(
            [lambda part=tables[i::threads]: maintenance.run_maintenance(
                self.engine, tables=part, expire=False)
             for i in range(threads)]
        )
        t1 = time.perf_counter()
        now = store_files(self.store)
        rewritten = sum(b for p, b in now.items() if p not in before)
        self._snapshot = now
        self.bytes_by_compaction += rewritten
        self.compactions.append(
            {"t0": t0, "t1": t1, "bytes_rewritten": rewritten,
             "files_before": len(before), "files_after": len(now)}
        )

    def record_amplification(self) -> None:
        """Space and write amplification of the store now.  Each workload
        reads them at a fixed point of its op schedule, so they do not move
        with how many ops the timed window holds."""
        self.snapshot_writes()
        self.amp = {
            "space_amp": sum(self._snapshot.values()) / self.payload_bytes,
            "write_amp": (self.bytes_by_writes + self.bytes_by_compaction) / self.payload_bytes,
            "acked_writes": self.acked_writes,
        }

    # ------------------------------------------------------------ phases
    def run_clients(self, clients, warmup: dict[str, int], seconds: float) -> None:
        """Closed loop: each client sends its next request only after the
        previous one completed.  The timed window opens when every client
        has done its warm-up count, and clients keep going until their
        first completion after it closes.  So every measured op ran with
        all clients active, and none is cut by the window's edges."""

        def warmed() -> None:
            with self.lock:
                self._warmed += 1
                if self._warmed < len(clients):
                    return
            self.jvm_at["start"] = self.counters()
            self.t_start = time.perf_counter()
            self.deadline = self.t_start + seconds

        def loop(idx, kind, make):
            n = 0
            while time.perf_counter() < self.deadline:
                req = make()
                self.gate.enter()
                try:
                    op = self.send(idx, req)
                finally:
                    self.gate.exit()
                if self.tracer is not None:
                    op.meta["jit_ms"] = self.jvm.jit_ms()
                self.record(op)
                self.after_op(op)
                n += 1
                if n == warmup[kind]:
                    warmed()
            with self.lock:
                first_out = "end" not in self.jvm_at
                self.jvm_at.setdefault("end", {})
            if first_out:
                self.jvm_at["end"] = self.counters()

        self.loading = True
        run_parallel(
            [lambda i=i, kind=kind, make=make: loop(i, kind, make)
             for i, (kind, make) in enumerate(clients)]
        )

    def counters(self) -> dict:
        return {"gc_ms": self.jvm.gc_ms(), "jit_ms": self.jvm.jit_ms(),
                "dedup": self.server.dedup.executed}

    def after_op(self, op: Op) -> None:
        pass

    def create_tables(self, ddl: dict[str, str]) -> None:
        """CREATE TABLE over /sql for each name → column list.  TTL is off:
        the generated timestamps are fixed by the seed, so a TTL measured
        from the wall clock would expire them."""
        for name, cols in ddl.items():
            sql = (f"CREATE TABLE {name} ({cols}, TIMESTAMP KEY(ts)) "
                   "ENGINE=Analytic WITH (enable_ttl='false')")
            op = self.send(-1, Request("ddl", "/sql", json.dumps({"query": sql}).encode()))
            if not op.ok:
                raise RuntimeError(f"CREATE TABLE {name} failed")

    def clients(self) -> list:
        raise NotImplementedError

    def check(self) -> int:
        """Output checks after the timed window; returns mismatches."""
        raise NotImplementedError

    def check_count(self) -> int:
        return 0


LP_COLUMNS = "ts timestamp NOT NULL, host string TAG, region string TAG, usage double, idle bigint"


class IngestMix(Run):
    """One writer alternating line protocol to ``cpu`` and remote write to
    ``mem``, and a reader of the newest hour of each; maintenance after
    every COMPACT_EVERY acked writes with all clients paused.  No two
    writers share a table: concurrent appends to one table fail at this
    commit (README.md, "Known defect")."""

    TABLES = ["cpu", "mem"]
    DDL = {
        "cpu": LP_COLUMNS,
        "mem": "ts timestamp NOT NULL, host string TAG, region string TAG, value double",
    }

    def fixture(self) -> None:
        self.create_tables(self.DDL)

    def _writer(self):
        n = [0]

        def make() -> Request:
            table, slot = self.TABLES[n[0] % 2], n[0] // 2
            n[0] += 1
            pts = self.gen.points(table, slot, self.gen.base_ms + slot * SLICE_MS, POINTS, 1000)
            if table == "cpu":
                return Request("write", "/influxdb/v1/write", Generator.line_protocol(table, pts),
                               len(pts), table, {"slot": slot})
            return Request("write", "/prom/v1/write", Generator.remote_write(table, pts),
                           len(pts), table, {"slot": slot})

        return make

    def _reader(self, table: str, field: str):
        def make() -> Request:
            end = self.gen.base_ms + (self.max_slot.get(table, -1) + 1) * SLICE_MS
            sql = (
                f"SELECT host, count(*) AS n, avg({field}) AS v FROM {table} "
                f"WHERE ts >= {end - 3_600_000} AND ts < {end} GROUP BY host"
            )
            return Request("read", "/sql", json.dumps({"query": sql}).encode(), table=table)

        return make

    def clients(self):
        return [
            ("write", self._writer()),
            ("read", self._reader("cpu", "usage")),
            ("read", self._reader("mem", "value")),
        ]

    def after_op(self, op: Op) -> None:
        if op.kind != "write" or not op.ok:
            return
        with self.lock:
            due = self.acked_writes >= self.next_compact
            if due:
                self.next_compact += COMPACT_EVERY
        if due and time.perf_counter() < self.deadline:
            self.gate.exclusive(self._cycle)

    def _cycle(self) -> None:
        self.compact(self.TABLES)
        if len(self.compactions) == AMP_AT_COMPACTION:
            self.record_amplification()

    def check(self) -> int:
        """Reopen the store with a fresh Engine: readable rows per table
        must equal acked rows."""
        from incubator_horaedb_spark.frontends.sql_shim import Engine

        fresh = Engine(self.spark, self.store)
        bad = 0
        for t in self.TABLES:
            n = fresh.execute_sql(f"SELECT count(*) AS n FROM {t}").collect()[0][0]
            if n != self.acked_rows.get(t, 0):
                print(f"# check {t}: {n} rows readable, {self.acked_rows.get(t, 0)} acked", file=sys.stderr)
                bad += 1
        return bad

    def check_count(self) -> int:
        return len(self.TABLES)


class Dashboard(Run):
    """DASH_TABLES compacted tables; 4 readers send distinct time-range + tag
    GROUP BY statements over /sql, and 1 writer appends line protocol
    after the fixture's time range."""

    def __init__(self, *a):
        super().__init__(*a)
        self.tables = [f"dash{i:02d}" for i in range(DASH_TABLES)]
        self.fixture_pts: dict[str, list] = {}

    def fixture(self) -> None:
        self.create_tables({t: LP_COLUMNS for t in self.tables})
        print(f"# {time.perf_counter() - PROCESS_START:.1f}s tables created", file=sys.stderr)
        bodies = []
        for t in self.tables:
            pts = self.gen.points(t, -1, self.gen.base_ms, DASH_MINUTES, 60_000)
            self.fixture_pts[t] = pts
            bodies.append(Request("write", "/influxdb/v1/write",
                                  Generator.line_protocol(t, pts), len(pts), t))
        todo = iter(bodies)
        lock = threading.Lock()

        def take():
            with lock:
                return next(todo, None)

        self._bulk(take)
        failed = [op for op in self.ops if not op.ok]
        if failed:
            raise RuntimeError(f"{len(failed)} fixture writes failed")
        self.ops.clear()
        print(f"# {time.perf_counter() - PROCESS_START:.1f}s bulk written", file=sys.stderr)
        self.compact(self.tables, threads=CPUS)
        self.record_amplification()

    def _bulk(self, take) -> None:
        def loop():
            while (req := take()) is not None:
                self.record(self.send(-1, req))

        run_parallel([loop] * 2)

    def _reader(self, c: int):
        n = [0]
        span_min = 20 + 5 * c  # per-client length: no identical statements in flight

        def make() -> Request:
            rng = random.Random(f"{self.seed}:read:{c}:{n[0]}")
            n[0] += 1
            t = self.tables[rng.randrange(DASH_TABLES)]
            region = f"r{rng.randrange(4)}"
            lo = self.gen.base_ms + rng.randrange(DASH_MINUTES - span_min) * 60_000
            hi = lo + span_min * 60_000
            sql = (
                f"SELECT host, count(*) AS n, sum(idle) AS s, max(usage) AS m FROM {t} "
                f"WHERE ts >= {lo} AND ts < {hi} AND region = '{region}' GROUP BY host"
            )
            return Request("read", "/sql", json.dumps({"query": sql}).encode(), table=t,
                           meta={"lo": lo, "hi": hi, "region": region})

        return make

    def _writer(self):
        n = [0]
        live0 = self.gen.base_ms + DASH_MINUTES * 60_000

        def make() -> Request:
            slot = n[0]
            n[0] += 1
            t = self.tables[slot % DASH_TABLES]
            pts = self.gen.points(t, slot, live0 + (slot // DASH_TABLES) * SLICE_MS, POINTS, 1000)
            return Request("write", "/influxdb/v1/write", Generator.line_protocol(t, pts),
                           len(pts), t, {"slot": slot})

        return make

    def clients(self):
        return [("read", self._reader(c)) for c in range(4)] + [("write", self._writer())]

    @staticmethod
    def expected(pts, lo: int, hi: int, region: str) -> dict:
        out: dict[str, list] = {}
        for h, r, u, i, ts in pts:
            if r == region and lo <= ts < hi:
                e = out.setdefault(h, [0, 0, u])
                e[0] += 1
                e[1] += i
                e[2] = max(e[2], u)
        return {h: tuple(v) for h, v in out.items()}

    def check(self) -> int:
        """Every read's result equals the expectation from the generator."""
        bad = 0
        for op in self.ops:
            if op.kind != "read" or not op.ok:
                continue
            got = {r["host"]: (r["n"], r["s"], r["m"]) for r in op.response}
            want = self.expected(self.fixture_pts[op.table], op.meta["lo"], op.meta["hi"], op.meta["region"])
            if got != want:
                print(f"# check op {op.op_id} on {op.table}: result differs", file=sys.stderr)
                op.ok = False
                bad += 1
        return bad


WORKLOADS = {"ingest_mix": IngestMix, "dashboard": Dashboard}


# ------------------------------------------------------------ environment --
def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and fix the Spark
    shape: local[4], 2 GiB driver heap, no console progress bars."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the traced run counts jobs per span after the window
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def spin_ms() -> float:
    """Fixed pure-Python xorshift loop: host CPU speed, recorded as data
    before and after each run and never used to rescale a metric."""
    t0 = time.perf_counter()
    x = 0x9E3779B97F4A7C15
    for _ in range(1_000_000):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    if x == 0:
        print(x, file=sys.stderr)
    return (time.perf_counter() - t0) * 1e3


class JvmProbe:
    """GC time, JIT compile time and live heap of the driver JVM (MXBeans
    over py4j)."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.mf = self.jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans())

    def jit_ms(self) -> int:
        return self.mf.getCompilationMXBean().getTotalCompilationTime()

    def heap_live_mb(self) -> float:
        for _ in range(2):
            self.jvm.java.lang.System.gc()
        return self.mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


# ---------------------------------------------------------------- metrics --
def supported_pctl(values: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it, with the sample count (kept in the run record, not gated)."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if values else None}
    q = int(100 * (1 - 10 / n)) if n >= 20 else 0
    if q > 50:
        out[f"p{q}"] = statistics.quantiles(values, n=100)[q - 1]
    return out


def active_rate(ops: list[Op], weight) -> float:
    """Closed-loop throughput: per client, weight completed ÷ time from its
    first send to its last completion, summed over clients."""
    by_client: dict[int, list[Op]] = {}
    for o in ops:
        by_client.setdefault(o.client, []).append(o)
    return sum(
        sum(weight(o) for o in os_) / (max(o.t1 for o in os_) - min(o.t0 for o in os_))
        for os_ in by_client.values()
    )


def end_to_end(run: Run, setup_s: float, heap_mb: float) -> dict:
    timed = [o for o in run.ops if o.phase == "timed"]
    writes = [o for o in timed if o.kind == "write" and o.ok]
    reads = [o for o in timed if o.kind == "read" and o.ok]
    return {
        "setup_s": setup_s,
        "write_p50_ms": statistics.median((o.t1 - o.t0) * 1e3 for o in writes),
        "write_rows_per_s": active_rate(writes, lambda o: o.rows),
        "read_p50_ms": statistics.median((o.t1 - o.t0) * 1e3 for o in reads),
        "reads_per_s": active_rate(reads, lambda o: 1),
        "space_amp": run.amp["space_amp"],
        "write_amp": run.amp["write_amp"],
        "heap_live_mb": heap_mb,
        "py_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def per_layer(run: Run, tracer, span_cost_ms: float) -> dict:
    from spans import median_or_zero, self_times

    timed = {o.op_id: o for o in run.ops if o.phase == "timed"}
    spans = [s for s in tracer.spans if s[5] in timed or (s[5] is None and run.in_window(s[2]))]
    selfs = self_times(tracer.spans)
    jobs = tracer.job_counts()
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s[1], []).append(s)

    def ms(name):
        return [(s[3] - s[2]) * 1e3 for s in by_name.get(name, ())]

    writes = [o for o in timed.values() if o.kind == "write" and o.ok]
    reads = [o for o in timed.values() if o.kind == "read" and o.ok]
    handler = {s[5]: (s[3] - s[2]) * 1e3 for s in spans
               if s[1] in ("server.write_handler", "server.sql_handler")}
    overhead = [(o.t1 - o.t0) * 1e3 - handler[o.op_id] for o in timed.values() if o.op_id in handler]
    write_ops = {o.op_id for o in writes}
    catalog = [s for s in spans if s[1].startswith("catalog.") and s[5] in write_ops]
    resp = by_name.get("server.sql_response", [])
    tw = by_name.get("table.write", [])
    views = by_name.get("frontends.sql_shim.register_views", [])
    reads_in_views = {}
    for s in by_name.get("table.read", []):
        reads_in_views[s[4]] = reads_in_views.get(s[4], 0) + 1
    window_compactions = [c for c in run.compactions if run.in_window(c["t0"])]
    nops = max(len(timed), 1)
    start, end = run.jvm_at["start"], run.jvm_at["end"]
    shared = max(len(reads) - (end["dedup"] - start["dedup"]), 0)
    return {
        "server.write_handler_ms": median_or_zero(ms("server.write_handler")),
        "server.sql_handler_ms": median_or_zero(ms("server.sql_handler")),
        "server.http_overhead_ms": median_or_zero(overhead),
        "server.sql_response_ms": median_or_zero(ms("server.sql_response")),
        "server.sql_response.spark_jobs": median_or_zero(jobs[s[0]][0] for s in resp),
        "server.sql_response.tasks": median_or_zero(jobs[s[0]][1] for s in resp),
        "frontends.influxql.parse_ms": median_or_zero(ms("frontends.influxql.parse")),
        "frontends.prom_remote.parse_ms": median_or_zero(ms("frontends.prom_remote.parse")),
        "streaming.ingest.self_ms": median_or_zero(
            selfs[s[0]] * 1e3 for s in by_name.get("streaming.ingest", ())),
        "catalog.calls_per_write": len(catalog) / max(len(writes), 1),
        "catalog.ms_per_write": sum((s[3] - s[2]) * 1e3 for s in catalog) / max(len(writes), 1),
        "table.write_ms": median_or_zero(ms("table.write")),
        "table.write.spark_jobs": median_or_zero(jobs[s[0]][0] for s in tw),
        "table.files_per_write": run.files_by_writes / max(run.acked_writes, 1),
        "table.bytes_per_write": run.bytes_by_writes / max(run.acked_writes, 1),
        "table.files_live": median_or_zero(o.meta["files_live"] for o in reads),
        "maintenance.compact_ms": median_or_zero(ms("maintenance.run")),
        "maintenance.bytes_rewritten": median_or_zero(c["bytes_rewritten"] for c in window_compactions),
        "frontends.sql_shim.execute_sql_ms": median_or_zero(ms("frontends.sql_shim.execute_sql")),
        "frontends.sql_shim.register_views_ms": median_or_zero(ms("frontends.sql_shim.register_views")),
        "frontends.sql_shim.views_per_statement": median_or_zero(
            reads_in_views.get(s[0], 0) for s in views),
        "functions.sql_bindings.register_ms": median_or_zero(ms("functions.sql_bindings.register")),
        "serving.dedup_shared_ratio": shared / max(len(reads), 1),
        "session.gc_ms": (end["gc_ms"] - start["gc_ms"]) / nops,
        "session.jit_ms": (end["jit_ms"] - start["jit_ms"]) / nops,
        "trace.spans_per_op": len(spans) / nops,
        "trace.overhead_ms_per_op": len(spans) / nops * span_cost_ms,
    }


# ------------------------------------------------------------------ main --
def execute(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run; returns the full record (see module docstring)."""
    run_dir = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    sys.path.insert(0, ROOT)
    from incubator_horaedb_spark.frontends.sql_shim import Engine
    from incubator_horaedb_spark.server import EngineServer
    from incubator_horaedb_spark.session import get_spark

    calib = {"spin_ms_before": spin_ms()}
    spark = get_spark(f"perfbench-{workload}", cpus=CPUS)
    server = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = WORKLOADS[workload](seed, os.path.join(run_dir, "store"))
        run.spark = spark
        run.engine = Engine(spark, run.store)
        server = EngineServer(run.engine).start()
        run.port = server.port
        run.server = server
        run.jvm = JvmProbe(spark)
        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
            tracer.wrap_request_handler(server.httpd.RequestHandlerClass)
            run.tracer = tracer

        marks = {"spark": time.perf_counter() - PROCESS_START}
        run.fixture()
        marks["fixture"] = time.perf_counter() - PROCESS_START
        run.run_clients(run.clients(), WARMUP[workload], seconds)
        setup_s = marks["warmup"] = run.t_start - PROCESS_START
        run.snapshot_writes()
        if run.amp is None:
            raise RuntimeError("the run ended before its amplification point")
        heap_mb = run.jvm.heap_live_mb()
        span_cost = 0.0
        if tracer is not None:
            tracer.uninstall()
            span_cost = tracer.span_cost_ms()

        bad_checks = run.check()
        ops = [o for o in run.ops if o.phase != "fixture"]
        attempted = len(ops) + run.check_count()
        failed = sum(not o.ok for o in ops) + bad_checks
        e2e = end_to_end(run, setup_s, heap_mb)
        layers = per_layer(run, tracer, span_cost) if tracer else None
        calib["spin_ms_after"] = spin_ms()
        timed = [o for o in run.ops if o.phase == "timed"]
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "end_to_end": e2e, "per_layer": layers, "calibration": calib,
            "samples": {
                "write_ms": supported_pctl([(o.t1 - o.t0) * 1e3 for o in timed if o.kind == "write" and o.ok]),
                "read_ms": supported_pctl([(o.t1 - o.t0) * 1e3 for o in timed if o.kind == "read" and o.ok]),
                "compactions": sum(run.in_window(c["t0"]) for c in run.compactions),
            },
            "jvm_window": run.jvm_at,
            "setup_marks_s": marks,
            "amplification": run.amp,
            "ops": [[o.kind, o.client, o.phase, round(o.t0 - run.t_start, 4), round((o.t1 - o.t0) * 1e3, 2),
                     o.ok, o.meta.get("jit_ms")] for o in run.ops],
        }
        if tracer is not None:
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"spans-{workload}-s{seed}.json"), "w") as f:
                json.dump([list(s) for s in tracer.spans], f)
        return record
    finally:
        if server is not None:
            server.stop()
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    rec = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({k: rec[k] for k in ("calibration", "samples", "setup_marks_s", "end_to_end")}),
          file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = rec["per_layer"] if args.trace else rec["end_to_end"]
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer" if args.trace else "end_to_end"]
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
