#!/usr/bin/env python3
"""Control workload: repeated passes over the TSDB subset of the query bank.

    python3 perfbench/query_bank.py --data-dir DIR --seed 1 --seconds 60 --trace 0

DIR holds the bank's parquet tables (lineitem, orders, events, ...), as the
bank's own harnesses read them.  One client runs every query in QUERIES
once per pass, materialized through the noop sink (``count()`` would let
the optimizer prune the sketch build), with the cache cleared before each
query.  The seed fixes the order of the queries in a pass.  The first pass
collects each result and compares its digest with the DuckDB oracle's
(``tools/check_correctness.table_digest``); it is also the warm-up.  The
timed passes then run for ``--seconds``.

This workload is not in BENCHMARK.json: its data lives outside the
checkout, and it issues no write or read requests, so it cannot report the
benchmark's end-to-end metrics (README.md, "query_bank").
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import run  # noqa: E402

QUERIES = [
    "q1_pricing_summary",
    "join_inner_3way",
    "topk_order_limit",
    "window_rownum_top2",
    "dedup_latest_by_key",
    "time_bucket_minute",
    "downsample_stddev",
    "promql_rate",
    "promql_instant",
    "partitioned_scan_prune",
    "ts_rollup_ladder",
    "hll_rollup_merge",
]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    data = os.path.abspath(args.data_dir)

    run_dir = os.path.join(run.WORK, f"query_bank-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    run.prepare_env(run_dir)
    sys.path[:0] = [run.ROOT, os.path.join(run.ROOT, "tools")]
    import duckdb
    from check_correctness import table_digest

    from incubator_horaedb_spark import querybank
    from incubator_horaedb_spark.querybank.registry import TABLES
    from incubator_horaedb_spark.session import get_spark

    order = list(QUERIES)
    random.Random(args.seed).shuffle(order)
    calib = {"spin_ms_before": run.spin_ms()}
    spark = get_spark("perfbench-query_bank", cpus=run.CPUS)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        qs, oracles = querybank.queries(), querybank.oracles()
        con = duckdb.connect()
        for t in TABLES:
            if os.path.exists(f"{data}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

        failed = []
        for name in order:  # check pass, also the warm-up
            spark.catalog.clearCache()
            df = qs[name](spark, data)
            rows = [tuple(r) for r in df.collect()]
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            if table_digest(df.columns, rows) != table_digest(ocols, res.fetchall()):
                failed.append(name)
        if failed:
            print(f"# digest mismatch: {failed}", file=sys.stderr)

        setup_s = time.monotonic() - PROCESS_START
        build: dict[str, list[float]] = {n: [] for n in order}
        execute: dict[str, list[float]] = {n: [] for n in order}
        passes: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline:
            tp = time.perf_counter()
            for name in order:
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = qs[name](spark, data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                build[name].append((t1 - t0) * 1e3)
                execute[name].append((t2 - t1) * 1e3)
            passes.append(time.perf_counter() - tp)
        calib["spin_ms_after"] = run.spin_ms()
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {}
        for name in QUERIES:
            metrics[f"querybank.build_ms.{name}"] = {"value": statistics.median(build[name]), "unit": "ms"}
            metrics[f"querybank.exec_ms.{name}"] = {"value": statistics.median(execute[name]), "unit": "ms"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(passes), "unit": "s"},
        }
    print(json.dumps({"calibration": calib, "passes": len(passes), "pass_s": passes}), file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(order) * (1 + len(passes)),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
