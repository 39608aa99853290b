"""Maintenance-vs-live-client race gates (VERDICT r09 next-round #5):
a reader collecting the DEDUP view while ``compact()`` rewrites segments
— and while ``ttl_expire()`` drops them — must never see torn, duplicate,
stale-version, or missing keys, and a writer appending while
``compact()`` loops must never lose an acknowledged row.

The visibility contract is the catalog's file list (catalog.py): a reader
plans over the files of one version, and a rewrite publishes a version
that swaps exactly the files it read for its output.  A version names
either a leaf's old files or its new ones — never both, never neither —
and files appended meanwhile are in every later version.  A scan that
planned over replaced files and executed after their delete fails LOUDLY
(FILE_NOT_EXIST; or java.nio's NoSuchFileException when the file went
between its footer read and its data read), which is a retryable
conflict, not a wrong answer.

So the dedup-view invariants under concurrent compaction are:

* no duplicate primary key in any successful read,
* every returned value is the key's LATEST version (compaction only
  collapses superseded versions — it must never resurrect an old one),
* every key is present in every successful read,
* any read error is the documented loud conflict, nothing else.

Reference analogue: sequence-snapshot reads under compaction
(src/analytic_engine/src/instance/read.rs + compaction picker), where a
manifest version pins visibility, as the file list does here.
"""

from __future__ import annotations

import threading
import time
import urllib.request

import pytest
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.server import EngineServer

SEG_MS = 2 * 3600 * 1000
N_SEG = 3
KEYS_PER_SEG = 8
N_VERSIONS = 3


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _mk_overwrite_table(engine, name: str):
    """OVERWRITE table: every key gets N_VERSIONS versions (same tag+ts,
    increasing __seq); value encodes (version, segment, i) so a stale or
    torn read is detectable from the value alone."""
    engine.execute_sql(
        f"CREATE TABLE {name} (k string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE=Analytic "
        "WITH(enable_ttl='false', update_mode='OVERWRITE', segment_duration='2h')"
    )
    for version in range(1, N_VERSIONS + 1):
        _write_version(engine, name, version)
    return engine.table(name)


def _write_version(engine, name: str, version: int) -> None:
    """One INSERT per segment writing ``version`` of every key."""
    for s in range(N_SEG):
        values = ", ".join(
            f"('s{s}k{i}', {version * 10000 + s * 100 + i}, "
            f"{s * SEG_MS + 1000 + i})"
            for i in range(KEYS_PER_SEG)
        )
        engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")


def _latest() -> dict[str, float]:
    return {
        f"s{s}k{i}": float(N_VERSIONS * 10000 + s * 100 + i)
        for s in range(N_SEG)
        for i in range(KEYS_PER_SEG)
    }


def _seg_of(key: str) -> int:
    return int(key[1 : key.index("k")])


def test_dedup_reader_racing_compaction(engine):
    tbl = _mk_overwrite_table(engine, "mcc1")
    expected = _latest()
    all_keys = set(expected)
    stop = threading.Event()
    reads: list[int] = []
    errors: list[str] = []
    conflicts = 0

    def reader() -> None:
        nonlocal conflicts
        while not stop.is_set():
            try:
                rows = tbl.read().select("k", "v").collect()
            except Exception as e:  # noqa: BLE001 — collected for assertion
                msg = str(e)
                if any(m in msg for m in ("FILE_NOT_EXIST", "FileNotFound", "NoSuchFileException")):
                    conflicts += 1  # documented loud conflict
                    continue
                errors.append(f"unexpected error: {msg[:300]}")
                continue
            seen: dict[str, float] = {}
            for r in rows:
                if r.k in seen:
                    errors.append(f"duplicate key {r.k}")
                if expected.get(r.k) != r.v:
                    errors.append(
                        f"stale/torn value for {r.k}: {r.v} != {expected.get(r.k)}"
                    )
                seen[r.k] = r.v
            missing = all_keys - set(seen)
            if missing:
                errors.append(f"keys missing: {sorted(missing)}")
            reads.append(len(seen))

    t = threading.Thread(target=reader)
    t.start()
    try:
        for call in range(3):
            if call:  # the latest version once more: a second file in every leaf
                _write_version(engine, "mcc1", N_VERSIONS)
            assert tbl.compact() == N_SEG
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:5]
    assert reads, "reader never completed a collect"
    # post-compaction end state: exactly the latest version of every key
    final = {r.k: r.v for r in tbl.read().select("k", "v").collect()}
    assert final == expected


def test_dedup_reader_racing_ttl_expire(engine, spark):
    """ttl_expire drops WHOLE expired segments; a racing dedup reader
    must only ever see (full table) or (full table minus whole expired
    segments) — never torn keys or wrong values."""
    name = "mcc2"
    engine.execute_sql(
        f"CREATE TABLE {name} (k string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE=Analytic "
        "WITH(enable_ttl='true', ttl='1h', update_mode='OVERWRITE', "
        "segment_duration='2h')"
    )
    import time as _time

    now_ms = int(_time.time() * 1000)
    seg_now = now_ms // SEG_MS
    # two long-expired segments + fresh rows written AT now
    for s, seg in enumerate((seg_now - 6, seg_now - 5)):
        values = ", ".join(
            f"('s{s}k{i}', {s * 100 + i}, {seg * SEG_MS + 1000 + i})"
            for i in range(KEYS_PER_SEG)
        )
        engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")
    values = ", ".join(
        f"('s2k{i}', {200 + i}, {now_ms - 60_000 + i})" for i in range(KEYS_PER_SEG)
    )
    engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")
    tbl = engine.table(name)
    live_keys = {f"s2k{i}" for i in range(KEYS_PER_SEG)}
    seg_keys = [{f"s{s}k{i}" for i in range(KEYS_PER_SEG)} for s in range(2)]
    # The reader's clock is pinned at the oldest row, so its TTL bound still
    # opens (and shows) the segments ttl_expire drops underneath it; a
    # wall-clock read would prune them and never race the delete.
    read_now = (seg_now - 6) * SEG_MS + 1000
    stop = threading.Event()
    first_read = threading.Event()
    errors: list[str] = []
    reads: list[set[str]] = []

    def reader() -> None:
        while not stop.is_set():
            try:
                rows = tbl.read(now_ms=read_now).select("k", "v").collect()
            except Exception as e:  # noqa: BLE001 — collected for assertion
                msg = str(e)
                if any(m in msg for m in ("FILE_NOT_EXIST", "FileNotFound", "NoSuchFileException")):
                    continue
                errors.append(f"unexpected error: {msg[:300]}")
                continue
            keys = {r.k for r in rows}
            if len(keys) != len(rows):
                errors.append("duplicate keys in dedup view during TTL purge")
            torn = [sk for sk in seg_keys if keys & sk and not sk <= keys]
            if torn or not live_keys <= keys or keys - live_keys - set().union(*seg_keys):
                errors.append(f"torn TTL visibility: {sorted(keys)[:6]}...")
            for r in rows:
                s = _seg_of(r.k)
                i = int(r.k[r.k.index("k") + 1 :])
                if r.v != float(s * 100 + i):
                    errors.append(f"corrupt value {r.k}={r.v}")
            reads.append(keys)
            first_read.set()

    t = threading.Thread(target=reader)
    t.start()
    try:
        # the race starts only once the reader has completed one read, and
        # the reader keeps reading until ttl_expire returns
        assert first_read.wait(timeout=300), errors[:5] or "reader never completed a read"
        dropped = tbl.ttl_expire()
    finally:
        stop.set()
        t.join()
    assert dropped == 2
    assert not errors, errors[:5]
    assert reads[0] == live_keys | seg_keys[0] | seg_keys[1]
    assert {r.k for r in tbl.read(now_ms=read_now).select("k").collect()} == live_keys
    assert {r.k for r in tbl.read().select("k").collect()} == live_keys


def test_http_writer_racing_compaction_keeps_acked_rows(spark, tmp_path):
    """One HTTP line-protocol writer appends into one segment while
    ``compact()`` rewrites that segment in a loop: afterwards
    ``count(*)`` equals the rows the server acknowledged."""
    srv = EngineServer(Engine(spark, str(tmp_path / "store"))).start()
    t0_ns = time.time_ns() // 3_600_000_000_000 * 3_600_000_000_000  # inside the TTL

    def write(i: int) -> bool:
        body = "\n".join(
            f"race,host=h{j} v={i}.{j} {t0_ns + (i * 10 + j) * 1_000_000}" for j in range(10)
        ).encode()
        req = urllib.request.Request(f"http://127.0.0.1:{srv.port}/influxdb/v1/write", data=body)
        with urllib.request.urlopen(req) as resp:
            return resp.status == 204

    stop = threading.Event()
    errors: list[Exception] = []
    passes = [0]

    def compactor() -> None:
        tbl = srv.engine.table("race")
        while not stop.is_set():
            try:
                tbl.compact()
                passes[0] += 1
            except Exception as e:  # noqa: BLE001 — collected for assertion
                errors.append(e)

    try:
        assert write(0)
        acked = 10
        t = threading.Thread(target=compactor)
        t.start()
        try:
            for i in range(1, 25):
                acked += 10 * write(i)
        finally:
            stop.set()
            t.join(timeout=300)
        assert not t.is_alive()
        n = srv.engine.execute_sql("SELECT count(*) AS n FROM race").collect()[0]["n"]
    finally:
        srv.stop()
    assert not errors, errors[:3]
    assert passes[0] >= 2
    assert n == acked
