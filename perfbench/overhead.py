#!/usr/bin/env python3
"""Tracing overhead: the traced run's end-to-end numbers minus the untraced
run's, for one workload and seed.

    python3 perfbench/overhead.py --workload dashboard --seed 1 --seconds 15

Runs run.py with ``--trace 0`` and then ``--trace 1``, and prints one JSON
object: metric → {untraced, traced, diff}.  Host speed drifts between the
two runs, so read the result against several seeds, and next to the
calibration each record holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    recs = {}
    for trace in (0, 1):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
            check=True, stdout=subprocess.DEVNULL, timeout=300,
        )
        with open(os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t{trace}.json")) as f:
            recs[trace] = json.load(f)
    out = {
        k: {"untraced": v, "traced": recs[1]["end_to_end"][k], "diff": recs[1]["end_to_end"][k] - v}
        for k, v in recs[0]["end_to_end"].items()
    }
    out["calibration"] = {t: recs[t]["calibration"] for t in (0, 1)}
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
