"""Scale gates on their FIRED branch, checked against the DuckDB oracles.

Every scale gate reads one probe, ``scale.scan_stats``.  At the sf0.01
oracle tier every input is far below ``scale.GATE_BYTES``, so the branches
that widen a scan or salt a sketch build never run in the oracle sweep.
Here the probe is faked to report a 64 MiB input in one natural split,
which fires every gate, and each gated bank query must then:

* build a different optimized plan than without the fake (so the list
  below cannot silently go stale: a query whose gate the fake no longer
  reaches fails), and
* still match its DuckDB oracle exactly (same comparator as
  ``tools/check_correctness.py``).

GATED is the set of bank queries whose optimized plan at sf0.01 changes
under this fake, found by building all bank plans with and without it.
(``hybrid_rrf_fusion`` also showed a diff there, but it reads no gate: its
optimizer output varies with session history, a projection collapsing or
not, so it is left out.)
"""

from __future__ import annotations

import logging
import os
import re

import duckdb
import pytest

from incubator_horaedb_spark import querybank, scale
from incubator_horaedb_spark.querybank.registry import TABLES, load
from tools.check_correctness import table_digest

GATED = [
    "ann_cosine_bruteforce",
    "ann_ivf_trained",
    "ann_ivfpq",
    "ann_mips_topk",
    "ann_pq_adc",
    "ann_recall_at_k",
    "ann_refine_rerank",
    "bpe_encode_corpus",
    "cms_heavy_hitters",
    "corpus_curation_e2e",
    "corpus_quality_filter",
    "corpus_source_divergence",
    "decontaminate_bloom",
    "decontaminate_ngram",
    "decontaminate_winnow",
    "dedup_apply_survivors",
    "dedup_containment",
    "dedup_dupspan_report",
    "dedup_edit_survivors",
    "dedup_incremental_lsh",
    "dedup_latest_by_key",
    "dedup_minhash_accuracy",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_blocked",
    "dedup_simhash",
    "dedup_threshold_sweep",
    "embedding_abtt_postprocess",
    "embedding_mrl_truncation",
    "embedding_rhp_lsh",
    "embedding_semdedup",
    "hll_rollup_merge",
    "pq_train",
    "quality_classifier_score",
    "sketch_rollup_persisted",
    "text_bigram_surprisal",
    "text_hash_features",
    "text_ngram_topk",
    "text_rare_token_ratio",
    "text_repetition",
    "text_tfidf_topk",
    "text_unigram_surprisal",
    "text_winnow_fingerprint",
    "thetasketch_distinct_users",
    "ts_rollup_ladder",
    "window_rownum_top2",
]

_FIRED = scale.ScanStats(bytes=64 << 20, files=1, natural_splits=1)
# run-varying plan text: expression ids, exchange plan ids, and the
# sampled range-partition boundaries of the two-pass rank
_VOLATILE = re.compile(r"#\d+L?|plan_id=\d+|values: \[[^\]]*\]")


@pytest.fixture(scope="module")
def oracle_sf_dir(sf_dir):
    # the driver's oracle tier, next to the test tier
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def duck(oracle_sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{oracle_sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _plan(spark, sf, name):
    # cached stage views are rebuilt per build, so each build sees the gate
    spark.catalog.clearCache()
    df = querybank.queries()[name](spark, sf)
    return df, _VOLATILE.sub("", df._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize("name", GATED)
def test_fired_gate_matches_oracle(spark, oracle_sf_dir, duck, monkeypatch, name):
    _, plain = _plan(spark, oracle_sf_dir, name)
    monkeypatch.setattr(scale, "scan_stats", lambda df: _FIRED)
    try:
        sdf, fired = _plan(spark, oracle_sf_dir, name)
        assert fired != plain, f"{name}: the faked probe no longer reaches a gate"
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        spark.catalog.clearCache()
    res = duck.execute(querybank.oracles()[name])
    ocols, orows = [d[0] for d in res.description], res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert table_digest(scols, srows) == table_digest(ocols, orows)


def test_scan_stats_sums_file_sizes(spark, tmp_path):
    path = tmp_path / "t.parquet"
    spark.range(1000).repartition(3).write.parquet(str(path))
    st = scale.scan_stats(spark.read.parquet(str(path)))
    sizes = [p.stat().st_size for p in path.glob("*.parquet")]
    assert (st.bytes, st.files) == (sum(sizes), len(sizes))
    assert st.natural_splits >= 1


def test_probe_failure_warns_and_keeps_gates_closed(spark, tmp_path, monkeypatch, caplog):
    # a scan the memo has never seen, so the FS status call really runs
    path = str(tmp_path / "fresh.parquet")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)

    def boom(*_):
        raise OSError("status unavailable")

    monkeypatch.setattr(scale.fsops, "hadoop_fs", boom)
    with caplog.at_level(logging.WARNING, logger="incubator_horaedb_spark.scale"):
        st = scale.scan_stats(df)
    assert st == scale.ScanStats(0, 0, 0)
    warnings = [r for r in caplog.records if r.name == "incubator_horaedb_spark.scale"]
    assert len(warnings) == 1
    assert "fresh.parquet" in warnings[0].getMessage()
    assert "status unavailable" in warnings[0].getMessage()
    # every gate stays closed on zero stats
    assert scale.widen_target(df, 1, min_bytes=0) == 0
    assert scale.widen_for_compute(df) is df


def test_gates_stay_closed_at_oracle_tier(spark, oracle_sf_dir):
    # the un-faked probe: every oracle-tier table is below the one gate
    for t in ("events", "documents", "embeddings"):
        assert 0 < scale.scan_stats(load(spark, oracle_sf_dir, t)).bytes < scale.GATE_BYTES
