"""Scale policy: one scan-size probe and the gates that read it.

Input splits are sized for parquet READ cost, but some stages cost far
more per byte (interpreted-HOF folds, window sorts, KMV sketch builds) and
on a small single-row-group input run as one task.  The gates decide from
file sizes alone when to widen such a stage or bound its state; at real
scale every gate is a no-op.  ``scan_stats`` is the only probe, so faking
it once drives every gate's fired branch.

``GATE_BYTES`` also gates ``Table.read`` (table.py ``_split_scans``), from
the file list's recorded sizes rather than this probe: a read covering
less than it scans each side as one partition, so a statement over a small
table runs as one task with no exchange.
"""

from __future__ import annotations

import logging
from typing import NamedTuple

from pyspark.sql import DataFrame

from incubator_horaedb_spark import fsops

# The one size gate: below it a single-task stage (or a whole-distinct-set
# sketch buffer, ≤ ~250 k hashes) is cheaper than any added exchange, so
# the sf0.1 driver-bench tables stay untouched by construction.
GATE_BYTES = 8 << 20

_log = logging.getLogger(__name__)


class ScanStats(NamedTuple):
    bytes: int
    files: int
    natural_splits: int


# Total file bytes per sorted input-file tuple.  A rewritten store has new
# file names, so an entry can never describe files that changed.
_FILE_BYTES: dict[tuple[str, ...], int] = {}


def scan_stats(df: DataFrame) -> ScanStats:
    """(bytes, files, natural_splits) of the file scan behind ``df``.

    ``bytes`` sums Hadoop FS status over ``inputFiles()`` (any scheme:
    file:, hdfs:, s3a:).  ``natural_splits`` models FilePartition packing
    under the current split-size confs: splits of min(maxPartitionBytes,
    max(openCost, total/parallelism)), each file charged openCost.
    ``df`` must be a RAW FILE SCAN; past a shuffle the estimate can
    undercount the real partitioning.  A failed probe logs a warning and
    returns zero stats, which keeps every gate closed.
    """
    files: tuple[str, ...] = ()
    try:
        files = tuple(sorted(df.inputFiles()))
        total = _FILE_BYTES.get(files)
        if total is None:
            total = 0
            for f in files:
                fs, jpath = fsops.hadoop_fs(df.sparkSession, f)
                total += int(fs.getFileStatus(jpath).getLen())
            _FILE_BYTES[files] = total
        spark = df.sparkSession
        conf = spark._jsparkSession.sessionState().conf()  # type: ignore[union-attr]
        max_part, open_cost = conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    except Exception as e:
        _log.warning(
            "scan_stats: size probe failed for the scan of %s (%d files); "
            "scale gates stay closed: %s",
            files[0] if files else "an unresolved plan",
            len(files),
            e,
        )
        return ScanStats(0, 0, 0)
    par = max(spark.sparkContext.defaultParallelism, 1)
    charged = total + len(files) * open_cost
    split = min(max_part, max(open_cost, charged // par))
    return ScanStats(total, len(files), max(1, -(-charged // max(split, 1))))


def widen_target(df: DataFrame, target_bytes: int, min_bytes: int = 0) -> int:
    """Repartition width for the widen helpers (0 = leave the scan alone):
    ~1 task per ``target_bytes`` of input, capped at 2× parallelism.
    Fires only when the input is at least ``min_bytes`` and that width
    beats the natural split count."""
    st = scan_stats(df)
    cap = df.sparkSession.sparkContext.defaultParallelism * 2
    want = min(cap, max(1, -(-st.bytes // target_bytes)))
    if not st.bytes or st.bytes < min_bytes or want <= st.natural_splits:
        return 0
    return want


def widen_for_compute(df: DataFrame, target_bytes: int = 64 << 10) -> DataFrame:
    """Widen a scan for interpreted-HOF / UDF-heavy pipelines, which cost
    ~100× the scan per byte (measured: the sf0.1 token-hash stage ran as
    one task, 1.6s of a 1.9s query): ~64 KiB of input per task."""
    want = widen_target(df, target_bytes)
    return df.repartition(want) if want else df


def widen_by_key(
    df: DataFrame,
    *key_cols,
    target_bytes: int = 1 << 20,
    min_bytes: int = GATE_BYTES,
) -> DataFrame:
    """Widen a deficient-split scan for a heavy map-side operator stage
    (window sort, Expand+aggregate; measured at sf1: 1.5-1.7 s of
    single-task CPU) by hash-repartitioning on the operator's own keys.

    Hash, not round-robin: round-robin pays a sortBeforeRepartition pass,
    the very single-task O(n log n) this removes, and hashpartitioning on
    the operator's keys satisfies its ClusteredDistribution, so the plan
    keeps ONE exchange.  Only sound when the operator's output is
    order-independent given its keys — every call site states why.  Sorts
    cost ~10× scan decode per byte, hence ~1 MiB per task.
    """
    want = widen_target(df, target_bytes, min_bytes=min_bytes)
    return df.repartition(want, *key_cols) if want else df
