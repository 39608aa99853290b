"""Generate a distribution-matched 10× scale tier (sf1) for scale benching.

The driver ships sf0.001/sf0.01/sf0.1 (TESTDATA.md; its generator is not in
the repo), so every scale claim above sf0.1 was argued from plans alone.
This script synthesizes an sf1 tier (~6M lineitem / 1M events / 50k
documents / 20k embeddings) whose DISTRIBUTIONS match the shipped data —
vocabulary, document-length range, near-duplicate plant rate, tag
cardinalities, event-type mix, value distribution, unit-norm clustered
embeddings — so per-row operator workload stays constant and sf1/sf0.1
wall-clock ratios measure SCALING, not a shifted workload
(VERDICT r04 next-round #6).

The tables the heavy bench families touch are generated (documents,
events, embeddings, lineitem, orders); the small dimension tables are
copied from sf0.1.  Output is NOT committed (~hundreds of MB); bench.py
times it as a further tier (``SPARK_GRAFT_SF_DIR=<sf0.1 dir>,<out_dir> python
bench.py [query ...]``), and BENCH_SCALE.md is read off that record.

Usage: python tools/gen_scale_data.py [out_dir] [factor] [table ...]
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = "/root/testdata/sf0.1"

# workload-shaping rates measured from the shipped sf0.1 corpus
NEAR_DUP_RATE = 0.04  # docs that are a perturbed copy of an earlier doc
EXACT_DUP_RATE = 0.003
TOKEN_SUB_RATE = 0.05  # per-token substitution inside a near-copy


def _write_single_rg(tbl: pa.Table, path: str) -> None:
    """ONE row group per file, matching the shipped sf0.1 layout (checked:
    every /root/testdata parquet is a single row group).  pyarrow's 1Mi-row
    default split the generated lineitem into 6 row groups, giving the sf1
    tier 6-way scan parallelism the sf0.1 tier lacks — the "q1 faster at
    10x data" artifact BENCH_SCALE had to caveat (VERDICT r07 #8).  With
    identical layouts both tiers scan as one task and ratios measure
    per-row work honestly."""
    pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1))


def _base_profile() -> dict:
    con = duckdb.connect()
    vocab = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT unnest(string_split(text, ' ')) FROM '{BASE}/documents.parquet'"
        ).fetchall()
        if r[0]
    ]
    langs = con.execute(
        f"SELECT lang, count(*) FROM '{BASE}/documents.parquet' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    sources = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT source FROM '{BASE}/documents.parquet' ORDER BY 1"
        ).fetchall()
    ]
    types = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT event_type FROM '{BASE}/events.parquet' ORDER BY 1"
        ).fetchall()
    ]
    ts_lo, ts_hi = con.execute(
        f"SELECT epoch_ms(min(ts)), epoch_ms(max(ts)) FROM '{BASE}/events.parquet'"
    ).fetchone()
    n_users = con.execute(
        f"SELECT count(DISTINCT user_id) FROM '{BASE}/events.parquet'"
    ).fetchone()[0]
    return dict(
        vocab=sorted(vocab),
        langs=langs,
        sources=sources,
        types=types,
        ts_lo=int(ts_lo),
        ts_hi=int(ts_hi),
        n_users=int(n_users),
    )


def gen_documents(out: str, factor: int, rng: np.random.Generator, prof: dict) -> None:
    n = 5000 * factor
    vocab = prof["vocab"]
    langs, lang_w = zip(*[(l, c) for l, c in prof["langs"]])
    lang_p = np.array(lang_w, dtype=float)
    lang_p /= lang_p.sum()
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < EXACT_DUP_RATE:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 0 and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = texts[rng.integers(0, i)].split(" ")
            toks = [
                vocab[rng.integers(0, len(vocab))]
                if rng.random() < TOKEN_SUB_RATE
                else t
                for t in toks
            ]
            texts.append(" ".join(toks))
            continue
        ln = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), ln)))
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [langs[j] for j in rng.choice(len(langs), n, p=lang_p)], pa.string()
            ),
            "source": pa.array(
                [prof["sources"][j] for j in rng.integers(0, len(prof["sources"]), n)],
                pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write_single_rg(tbl, f"{out}/documents.parquet")


def gen_events(out: str, factor: int, rng: np.random.Generator, prof: dict) -> None:
    n = 100_000 * factor
    ts_ms = np.sort(rng.integers(prof["ts_lo"], prof["ts_hi"] + 1, n))
    values = np.round(rng.exponential(50.0, n), 2)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts_ms * 1000, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, prof["n_users"] * factor, n), pa.int64()
            ),
            "event_type": pa.array(
                [prof["types"][j] for j in rng.integers(0, len(prof["types"]), n)],
                pa.string(),
            ),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
                pa.string(),
            ),
        }
    )
    _write_single_rg(tbl, f"{out}/events.parquet")


def gen_embeddings(out: str, factor: int, rng: np.random.Generator) -> None:
    n, dim, k = 2000 * factor, 64, 10
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    vecs = centers[labels] * 2.0 + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    _write_single_rg(tbl, f"{out}/embeddings.parquet")


def gen_lineitem(out: str, factor: int) -> None:
    # tile the shipped sf0.1 lineitem with shifted order keys: q1-class
    # scan-aggregate workloads see 10x rows with identical value
    # distributions (no dedup semantics ride on lineitem)
    base = pq.read_table(f"{BASE}/lineitem.parquet")
    n_orders = 150_000
    parts = []
    for t in range(factor):
        tile = base.set_column(
            0,
            "l_orderkey",
            pa.array(base.column("l_orderkey").to_numpy() + t * n_orders, pa.int64()),
        )
        parts.append(tile)
    _write_single_rg(pa.concat_tables(parts), f"{out}/lineitem.parquet")


def gen_orders(out: str, factor: int) -> None:
    # tile the shipped sf0.1 orders with shifted order AND customer keys:
    # per-customer order counts (the window_rownum_top2 partition size)
    # stay constant, so the ratio measures scaling, not skew growth
    base = pq.read_table(f"{BASE}/orders.parquet")
    n_orders, n_cust = 150_000, 15_000
    parts = []
    for t in range(factor):
        cols = {c: base.column(c) for c in base.column_names}
        cols["o_orderkey"] = pa.array(
            base.column("o_orderkey").to_numpy() + t * n_orders, pa.int64()
        )
        cols["o_custkey"] = pa.array(
            base.column("o_custkey").to_numpy() + t * n_cust, pa.int64()
        )
        parts.append(pa.table(cols))
    _write_single_rg(pa.concat_tables(parts), f"{out}/orders.parquet")


def copy_dims(out: str) -> None:
    """The five dimension tables ride along UNCHANGED (VERDICT r06
    next-round #2: every table a bank query needs must exist at the sf1
    tier).  region/nation are constant-size in TPC-H at any SF;
    customer/supplier/part stay at the sf0.1 size — a fact-grows-dims-lag
    shape that is realistic at scale, and correctness is unaffected
    because both engines read the identical files."""
    import shutil

    for t in ("region", "nation", "customer", "supplier", "part"):
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{BASE}/{t}.parquet", dst)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/testdata_sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    only = set(sys.argv[3:])  # optional table subset, e.g. "documents events"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    prof = _base_profile()
    gens = {
        "documents": lambda: gen_documents(out, factor, rng, prof),
        "events": lambda: gen_events(out, factor, rng, prof),
        "embeddings": lambda: gen_embeddings(out, factor, rng),
        "lineitem": lambda: gen_lineitem(out, factor),
        "orders": lambda: gen_orders(out, factor),
    }
    todo = [t for t in gens if not only or t in only]
    for t in todo:
        gens[t]()
    if not only:
        copy_dims(out)
    for t in todo:
        meta = pq.read_metadata(f"{out}/{t}.parquet")
        print(f"{t}: {meta.num_rows} rows, {os.path.getsize(f'{out}/{t}.parquet') >> 20} MB")


if __name__ == "__main__":
    main()
