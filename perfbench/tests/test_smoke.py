"""Small-size smoke test of the benchmark command.

    python -m pytest perfbench/tests -q

Each case runs the benchmark in its own process (it starts and stops its
own Spark JVM) with a short window, and checks the result line against the
metric names in BENCHMARK.json.  Each window must be long enough to
measure at least one op of each kind, and the ingest_mix window must also
reach the compaction where the amplification metrics are read.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

# Replaces the first ``cpu`` write of the timed window with a body that is
# not line protocol; the server answers 400 and the run must go on.
MALFORMED = """
import sys
sys.path.insert(0, {bench!r})
import run

orig = run.IngestMix._writer

def writer(self):
    make = orig(self)

    def bad():
        req = make()
        if req.table == "cpu" and self.t_start is not None and not getattr(self, "_sent_bad", False):
            self._sent_bad = True
            req.body = b"cpu,host=h00 not line protocol"
        return req

    return bad

run.IngestMix._writer = writer
sys.exit(run.main(sys.argv[1:]))
"""


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args: list[str], code: str | None = None) -> dict:
    cmd = [sys.executable]
    cmd += ["-c", code.format(bench=BENCH)] if code else [os.path.join(BENCH, "run.py")]
    proc = subprocess.run(
        cmd + args, cwd=ROOT, capture_output=True, text=True, timeout=300, check=False
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_malformed_write_counts_as_failed_op():
    res = _run(
        ["--workload", "ingest_mix", "--seed", "1", "--seconds", "10", "--trace", "0"],
        code=MALFORMED,
    )
    _check_metrics(res, _spec()["end_to_end"])
    assert res["failed"] == 1
    assert res["correct"] is False
    assert res["attempted"] > res["failed"]


def test_traced_run_prints_every_layer_metric():
    res = _run(["--workload", "dashboard", "--seed", "1", "--seconds", "12", "--trace", "1"])
    _check_metrics(res, _spec()["per_layer"])
    assert res["failed"] == 0 and res["correct"] is True
