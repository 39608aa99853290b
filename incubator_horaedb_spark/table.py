"""Table write/read paths — the Spark rendering of the analytic engine.

Write path (replaces WAL → memtable → flush,
src/analytic_engine/src/instance/write.rs):
- every write batch gets one monotonic ``__seq`` from the catalog (the
  SequenceNumber analogue — dedup order is total per table);
- tsid-mode tables get the hidden ``tsid`` column = xxhash64 of tag values
  (TsidBuilder, src/interpreters/src/insert.rs:179-216);
- rows land in time partitions ``__segment`` = floor(ts / segment_duration)
  (segment organization, table_options.rs:54; duration sampled from the
  first batch via the reference ladder when unset, sampler.rs:42-51);
- parquet files laid out as ``[__partition=P/]__segment=S`` leaves — at
  100 TB the partition columns are what make time-range queries prune
  (predicate.rs TimeRange → partition pruning); each append is staged
  privately and committed by the catalog's file list (``Table._commit``),
  so appends take no lock;
- one set of Spark expressions computes the stored rows (casts, defaults,
  tsid, ``__seq``, ``__segment``, ``__partition``), and one plan-shape rule
  picks the writer.  The write projection is built once per table version
  and batch column names (``_Projection``): each later batch of that shape
  pays its ``__seq`` literal and one py4j round trip per stage, as a
  micro-batch query reuses its plan.  A request's rows held on the driver
  (protocol writes, INSERT VALUES, COPY/LOAD) enter as one Arrow-backed
  local relation (``batch_frame``); Catalyst folds those expressions into
  a new local relation, which is collected with no Spark job and written
  by pyarrow, one file per leaf the request touches — the memtable flush
  straight to an SST (sst/parquet/writer.rs).  Every other frame (INSERT … SELECT,
  CTAS, streaming micro-batches, and a request batch past
  ``DRIVER_WRITE_MAX_VALUES`` values) is written by a Spark job, as
  compaction is.

Each commit records, per added file, its row count and timestamp range
from the parquet footer and whether its rows are key-unique (FileMeta,
sst/file.rs; format in catalog.py).  The driver writer checks
uniqueness per batch; compaction of an Overwrite table dedups, so its
output is unique; every other Spark-written file is not.

Read path (replaces MergeIterator/DedupIterator/ChainIterator,
src/analytic_engine/src/row_iter/):
- Append tables: plain scan (ChainIterator — concatenation, no merge);
- Overwrite tables: keep the newest row per primary key —
  ROW_NUMBER() OVER (PARTITION BY pk ORDER BY __seq DESC) = 1
  (merge.rs:126 need_dedup + dedup.rs keep-newest-sequence) — over the
  overlapping files only (``_overlapping``: not key-unique, no recorded
  range, or a range meeting another commit's file).  Every other file
  cannot share a key with any file and is scanned plainly; the read is
  plain ∪ dedup(overlapping), and one scan when either side is empty;
- TTL: rows older than now - ttl are filtered out at read when
  enable_ttl (table_options.rs:60), and wholly expired segments are pruned
  unread; ``ttl_expire`` drops them from the file list.

``Table.read`` is the one read of the listed files: partition pruning,
segment/time bounds, the sequence snapshot and TTL below the dedup window
on both sides, the window on the overlapping side.  Below
``scale.GATE_BYTES`` of listed files each side is one partition, so a
statement over a small table runs as one task with no shuffle.

Maintenance walks every listed leaf, ``[__partition=P/]__segment=S``
(compaction/picker.rs runs on every partition's segments).  ``compact``
is the TimeWindow picker analogue: a leaf is its time window, and in each
leaf it picks, from the FileMeta the file list carries, the files whose
rewrite changes something (``_pick``) and merges only those, applying the
dedup so read amplification drops.  A settled file (past half the target
file size and out of every dedup's reach) and a leaf's lone key-unique
file are left alone.  ``optimize_zorder`` rewrites every leaf whole
through the same loop; ``ttl_expire`` drops a leaf once every file in it
has a timestamp range that ends before the TTL cut.
"""

from __future__ import annotations

import functools
import gc
import os
import re
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow.fs import FileSystem
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from incubator_horaedb_spark import fsops, scale
from incubator_horaedb_spark.catalog import Catalog, pick_segment_duration_ms
from incubator_horaedb_spark.functions.hashing import tsid_expr
from incubator_horaedb_spark.partition import (
    PARTITION_COLUMN,
    key_partition_expr,
    pruned_filter,
    random_partition_expr,
)
from incubator_horaedb_spark.schema import SEGMENT_COLUMN, SEQ_COLUMN, TSID_COLUMN

# commits' private write areas, under the data dir (dot: Spark skips it)
STAGING = ".staging"
# the leaf value Spark's partitioned writer gives a NULL partition column
_NULL_LEAF = "__HIVE_DEFAULT_PARTITION__"
_SPARK_ERRORS = (PySparkException, Py4JJavaError)  # what a Spark call raises

# Table.read's base scans (plain side, overlapping side; ``_split_scans``,
# each coalesced to one partition when the file list holds less than
# ``scale.GATE_BYTES``) per (session, data dir) while table, file-list
# version, read schema, update mode and primary key hold: planning a file
# list costs ~50 ms, +370 ms above 32 paths (local[4]).  Beside them, once
# built, the argument-free read of a table without TTL (each SQL statement's
# view, ~35 ms to rebuild).  DROP TABLE lets go of a table's entries
# (``forget``).
_SCANS: dict[tuple, tuple[tuple, DataFrame | None, DataFrame | None, DataFrame | None]] = {}

# Table._append's write projection (``_Projection``) per (session, data
# dir) while the table version (its meta but for ``next_seq``;
# ``created_at_ms`` tells a re-created table apart) and the batch's column
# names hold.  An unresolved expression names columns only, so the same
# objects resolve against each new batch: a 1,000-row protocol write made
# 228 py4j round trips building them afresh, ~75 with them kept.  RANDOM's
# ``__partition`` is not kept: ``F.rand()`` fixes its seed when the Column
# is made, so a kept one would scatter every batch alike, row by row.
# DROP TABLE lets go of a table's entry (``forget``).
_PROJECTIONS: dict[tuple, tuple[tuple, "_Projection"]] = {}

# The largest request batch, in values (rows x columns), that the driver
# writer takes; past it the Spark writer is faster.  The driver writer pays
# ~3.5 us per value in Python (collect, then pyarrow), the Spark writer
# ~0.4 s per job and ~1.3 us per value: for a 6-column batch, 20,000 rows
# took 0.45 s on the driver and 0.50 s by Spark, 40,000 rows 0.86 s and
# 0.71 s (local[4], median of 3); a 1,000,000-row COPY took 28 s and +0.8
# GB of peak RSS on the driver, 9 s by Spark (one run each).
DRIVER_WRITE_MAX_VALUES = 128 * 1024

# Arrow type and accepted Python value types of each batch column kind.
# The value types are checked before the Arrow build because pyarrow
# converts some mismatches without a word: 1.5 into int64 becomes 1, True
# into float64 becomes 1.0.  bool is not accepted where int is (the check
# is on the exact type).  Timestamps are epoch milliseconds.
_BATCH_KINDS = {
    "timestamp": (pa.timestamp("ms", tz="UTC"), (int,)),
    "int64": (pa.int64(), (int,)),
    "double": (pa.float64(), (int, float)),
    "string": (pa.string(), (str,)),
    "boolean": (pa.bool_(), (bool,)),
    "varbinary": (pa.binary(), (bytes, bytearray, str)),
}


def batch_frame(spark: SparkSession, rows: list[dict], kinds: dict[str, str]) -> DataFrame:
    """One write request's rows, already in driver memory, as one
    Arrow-backed DataFrame ready for ``Table.write``.

    ``kinds`` maps each column, in output order, to a ``_BATCH_KINDS`` key;
    a row without the column reads as NULL.  The columns become one
    ``pyarrow.Table``, which ``createDataFrame`` turns into a JVM local
    relation: no Python worker re-pickles the rows.  Up to
    ``DRIVER_WRITE_MAX_VALUES`` values nothing is stacked on it, so
    ``Table.write``'s projections fold into a new local relation and the
    batch is written on the driver, one file per leaf it touches, with no
    Spark job.  A larger batch (a big COPY or LOAD DATA) is coalesced to
    ``fsops.n_output_files`` of its Arrow bytes, which keeps it from
    folding: Spark writes it, one task per ~128 MiB.

    A value of the wrong type, or one Arrow cannot hold exactly (an
    integer past int64, or past 2**53 in a double column), raises
    ValueError naming the column."""
    arrays = []
    for name, kind in kinds.items():
        arrow_type, accepted = _BATCH_KINDS[kind]
        values = [r.get(name) for r in rows]
        for v in values:
            if v is not None and type(v) not in accepted:
                raise ValueError(f"column {name!r}: cannot store {v!r} as {kind}")
        try:
            arrays.append(pa.array(values, arrow_type))
        except (pa.ArrowException, OverflowError) as e:
            raise ValueError(f"column {name!r}: {e}") from None
    table = pa.Table.from_arrays(arrays, names=list(kinds))
    df = spark.createDataFrame(table)
    if table.num_rows * table.num_columns > DRIVER_WRITE_MAX_VALUES:
        df = df.coalesce(fsops.n_output_files(table.nbytes))
    return df


def _collected(f: T.StructField):
    """File column ``f`` as the driver writer collects it: timestamps as
    epoch microseconds and dates as epoch days, never as Python datetimes."""
    if isinstance(f.dataType, T.TimestampType):
        return F.unix_micros(f.name).alias(f.name)
    if isinstance(f.dataType, T.DateType):
        return F.unix_date(f.name).alias(f.name)
    return F.col(f.name)


def _folds(df: DataFrame) -> bool:
    """The writer routing rule: Catalyst folded ``df`` into one local
    relation, so its rows are on the driver and ``collect()`` starts no
    Spark job.  A plan holding a repartition (``batch_frame``'s coalesce
    of a large batch) never folds, and is not optimized here: for a large
    local relation that costs ~2 s per million rows, paid again by the
    Spark write."""
    qe = df._jdf.queryExecution()
    if qe.analyzed().containsPattern(_repartition(df.sparkSession._jvm)):
        return False
    return qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"


@functools.cache
def _repartition(jvm):
    # resolving the TreePattern object walks its package, one py4j round trip per hop
    return jvm.org.apache.spark.sql.catalyst.trees.TreePattern.REPARTITION_OPERATION()


def _key_unique(rows: list, fields: list[T.StructField], pk: list[str]) -> bool:
    """Whether no two of the driver writer's ``rows`` (``fields`` as
    ``_collected`` gives them) share the primary key ``pk``, one set of key
    tuples.  Python's set and Spark's window see the same keys equal, NULLs
    too, but for floats (Spark holds every NaN equal) and binary values
    (collected as unhashable bytearrays): such a key is not checked, False.
    Arrow's group-by would load ``pyarrow.dataset`` (see the lint guard)."""
    idx = [i for i, f in enumerate(fields) if f.name in pk]
    unchecked = (T.FloatType, T.DoubleType, T.BinaryType)
    if any(isinstance(fields[i].dataType, unchecked) for i in idx):
        return False
    return len({tuple(r[i] for i in idx) for r in rows}) == len(rows)


def _null_refused(column: str) -> str:
    """The write error for a NULL in the NOT NULL ``column``."""
    return f"column {column!r} is NOT NULL: the batch holds a NULL in it"


def _read_schema(meta) -> T.StructType:
    """Explicit read schema = current table schema (+ internals) so old
    segments written before an ALTER ADD COLUMN read the new column as
    NULL — schema evolution without mergeSchema scans."""
    s = meta.schema.spark_schema(include_internal=True)
    extra = [T.StructField(SEGMENT_COLUMN, T.LongType(), True)]
    if meta.options.partition_keys:
        extra.insert(0, T.StructField(PARTITION_COLUMN, T.IntegerType(), True))
    return T.StructType(s.fields + extra)


def _dedup(df: DataFrame, pk: list[str]) -> DataFrame:
    """The Overwrite dedup window: keep the newest ``__seq`` per primary
    key — ROW_NUMBER() OVER (PARTITION BY pk ORDER BY __seq DESC) = 1
    (merge.rs:126 need_dedup + dedup.rs keep-newest-sequence).  The
    ``__rn`` column stays for the caller to project away."""
    w = Window.partitionBy(*pk).orderBy(F.col(SEQ_COLUMN).desc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)


# a parquet timestamp unit's ticks per millisecond
_TICKS_PER_MS = {"ms": 1, "us": 1000, "ns": 1_000_000}


def _footer(path: str, ts_col: str) -> dict:
    """A parquet file's row count and, when every row group's statistics
    give ``ts_col``'s min and max and count no NULL in it, its timestamp
    range ``ts`` = [lo, hi] in epoch ms, floored (FileMeta's time range,
    sst/file.rs).  An INT96 timestamp has no usable statistics, so
    such a file gets no range."""
    md = pq.read_metadata(path)
    out = {"rows": md.num_rows}
    j = md.schema.names.index(ts_col)
    stats = [md.row_group(i).column(j).statistics for i in range(md.num_row_groups)]
    if md.schema.column(j).physical_type != "INT64" or not all(
        s is not None and s.has_min_max and s.has_null_count and s.null_count == 0
        for s in stats
    ):
        return out
    per_ms = _TICKS_PER_MS[md.schema.to_arrow_schema().field(ts_col).type.unit]
    out["ts"] = [min(s.min_raw for s in stats) // per_ms, max(s.max_raw for s in stats) // per_ms]
    return out


def _overlapping(files: dict[str, dict]) -> set[str]:
    """The listed files an OVERWRITE read must dedup: each file whose rows
    are not key-unique, and each file whose timestamp range meets the range
    of a file another commit (file-list version) added.  Every version of a
    key shares its timestamp, so any other file can hold none of a file's
    keys (the reference, too, merges SSTs only where their time ranges
    overlap).  A file with no range could hold any key: then every file is
    overlapping.

    Files are compared pairwise, not per segment: after ``ALTER TABLE …
    MODIFY SETTING segment_duration`` one timestamp maps to different
    segments.  Sorted by range start, a file meets exactly the later files
    that start inside its range."""
    if any("ts" not in e for e in files.values()):
        return set(files)
    out = {p for p, e in files.items() if not e["unique"]}
    spans = sorted((*e["ts"], e["version"], p) for p, e in files.items())
    for k, (_, hi, v, p) in enumerate(spans):
        j = k + 1
        while j < len(spans) and spans[j][0] <= hi:
            if spans[j][2] != v:
                out |= {p, spans[j][3]}
            j += 1
    return out


def _by_leaf(files: dict[str, dict]) -> dict[str, dict[str, dict]]:
    """``files`` grouped by leaf (``[__partition=P/]__segment=S``), sorted."""
    leaves: dict[str, dict[str, dict]] = {}
    for path, entry in sorted(files.items()):
        leaves.setdefault(path.rsplit("/", 1)[0], {})[path] = entry
    return leaves


def _segment(leaf: str) -> int | None:
    """A leaf's ``__segment`` number; None for the leaf of NULL timestamps."""
    s = leaf.rsplit("=", 1)[1]
    return None if s == _NULL_LEAF else int(s)


def _segment_bounds(files: dict[str, dict], lo_ms: int | None, hi_ms: int | None) -> tuple[int, int]:
    """The least and greatest ``__segment`` among the leaves holding a file
    whose timestamp range meets ``[lo_ms, hi_ms)`` (either end None:
    unbounded); a file with no range always counts.  Every row in the
    range, every version of its key too, sits in such a leaf, whatever
    segment duration named it.  (0, -1), which no segment is within, when
    no file meets the range."""
    segs = [
        s
        for p, e in files.items()
        if (s := _segment(p.rsplit("/", 1)[0])) is not None
        and (
            "ts" not in e
            or (lo_ms is None or e["ts"][1] >= lo_ms) and (hi_ms is None or e["ts"][0] < hi_ms)
        )
    ]
    return (min(segs), max(segs)) if segs else (0, -1)


def _pick(
    leaves: dict[str, dict[str, dict]], over: set[str], overwrite: bool, target_file_bytes: int
) -> dict[str, dict[str, dict]]:
    """The files ``compact`` rewrites, per leaf (the SizeTieredPicker run in
    each time window, compaction/picker.rs:211 and :498).  A leaf's pick is
    its files that are not settled: a file is settled when it holds more
    than half of ``target_file_bytes`` and no dedup can touch it (an APPEND
    table, or a key-unique file outside ``over``, the ``_overlapping``
    files).  Two files past half the target sum past it, so
    ``fsops.n_output_files`` would write them back as two files again: the
    tier follows from the output sizing, it is not tuned.

    A leaf is rewritten when its pick holds two files or more, or one
    OVERWRITE file that is not key-unique.  A lone key-unique file is left
    alone even when it overlaps a file of another leaf (after ``ALTER …
    MODIFY SETTING segment_duration``): rewritten on its own it gives back
    the same rows.

    A rewrite's output range spans its inputs' ranges, so it can meet the
    range of a settled file beside it.  Both then read as overlapping,
    which is right (they go under the read's dedup window), and the next
    ``compact`` picks both."""
    picked = {}
    for leaf, files in leaves.items():
        # The tier.  Recorded negative results (perfbench, local[4] on 4
        # cores), not to be retried without new evidence:
        # - leaving ``ingest_mix``'s compacted file alone while its leaf's
        #   new files merge beside it (seeds 5-6): sweep-2 live bytes would
        #   go from 56.5 KB to ~63.6 KB, ``space_amp`` +13% against a 10%
        #   bound;
        # - a 4-file minimum per leaf, HoraeDB's ``min_threshold`` (seeds
        #   2-4): ``ingest_mix`` ``write_amp`` fell 0.316 -> 0.259, but the
        #   process's first, cold Spark compaction (~1.3 s) moved into the
        #   timed window: ``write_rows_per_s`` fell 19% and 4%,
        #   ``reads_per_s`` 19% and 10%;
        # - merging key-disjoint leaves with pyarrow on the driver: sweeps
        #   went from ~430 ms to ~55 ms, but ``py_rss_mb`` rose from 134 to
        #   155-157 MB (+16% against a 5% bound) and ``read_p50_ms`` by
        #   7-19%.
        pick = {
            p: e
            for p, e in files.items()
            if 2 * e["bytes"] <= target_file_bytes
            or overwrite and (not e.get("unique") or p in over)
        }
        if len(pick) >= 2 or overwrite and any(not e.get("unique") for e in pick.values()):
            picked[leaf] = pick
    return picked


def _select(df: DataFrame, jcols) -> DataFrame:
    """``df.select`` of a JVM Seq of columns made once (``_jseq``): one py4j
    round trip, where ``DataFrame.select`` converts its list, ~1 round trip
    per column."""
    return DataFrame(df._jdf.select(jcols), df.sparkSession)


def _jseq(spark: SparkSession, cols: list[Column]):
    return spark._jvm.PythonUtils.toSeq([c._jc for c in cols])


def _default(col) -> Column:
    """Column ``col``'s DEFAULT as its type: SQL expression text, a value,
    or NULL."""
    dv = col.default_value
    return (F.expr(dv) if isinstance(dv, str) else F.lit(dv)).cast(col.spark_type)


class _Projection:
    """One table version's write projection for batches whose columns are
    ``columns``: the unresolved Spark expressions ``Table._append`` stacks on
    a batch (``_PROJECTIONS``).  Each resolves against a batch when a stage
    is applied, so the same objects serve every batch of that shape.

    - ``shape``: defaults for the missing columns, the casts to the declared
      types, tsid;
    - ``place``: ``__seq`` (the batch's one literal), ``__segment`` and
      ``__partition``;
    - ``collected`` (the driver writer) and ``checked`` (the Spark writer,
      NOT NULL checks): the stored columns, ``fields`` then ``part_cols``.

    A table whose segment duration is not sampled yet gets ``shape`` only:
    the first flush samples it, and the sampled meta is a new version."""

    def __init__(self, spark: SparkSession, meta, columns: tuple[str, ...]):
        schema, opts = meta.schema, meta.options
        # defaults are SQL expression text (may reference earlier columns,
        # e.g. `c5 uint32 default c3*2 + 1`): one stage each, in schema
        # order, so prior defaults are in scope
        self.defaults = [(c.name, _default(c)) for c in schema.columns if c.name not in columns]
        self.casts = _jseq(
            spark, [F.col(c.name).cast(c.spark_type).alias(c.name) for c in schema.columns]
        )
        self.tsid = None
        if schema.tsid_mode:
            tags = schema.tag_columns
            self.tsid = tsid_expr(tags) if tags else F.lit(0).cast("long")

        self.part_cols = [SEGMENT_COLUMN]
        self.scatter = 0  # RANDOM's partition count: its expression is made per batch
        self.partitioning: list[tuple[str, Column]] = []
        if opts.segment_duration_ms is None:
            return
        # floored, as Table.read bounds segments: a pre-1970 row lands in a
        # negative segment, not in segment 0
        ts_ms = F.unix_millis(F.col(schema.timestamp_column))
        self.partitioning.append((SEGMENT_COLUMN, F.floor(ts_ms / opts.segment_duration_ms)))
        if opts.partition_keys:
            # key-partitioned table (partition/rule/key.rs): hash bucket col
            key = key_partition_expr(opts.partition_keys, opts.num_partitions)
            self.partitioning.append((PARTITION_COLUMN, key))
            self.part_cols = [PARTITION_COLUMN, SEGMENT_COLUMN]
        elif opts.partition_method == "random" and opts.num_partitions > 1:
            self.scatter = opts.num_partitions
            self.part_cols = [PARTITION_COLUMN, SEGMENT_COLUMN]

        self.fields = [f for f in _read_schema(meta).fields if f.name not in self.part_cols]
        names = [f.name for f in self.fields] + self.part_cols
        # cluster rows for the sampled key inside each output file: no
        # shuffle, but every row group's min/max stats on the low-NDV lead
        # columns become selective (SST prune analogue)
        self.sort_key = [c for c in opts.sampled_sort_key or [] if c in names]
        self.not_null = {c.name for c in schema.columns if not c.is_nullable}
        self.collected = _jseq(
            spark, [*map(_collected, self.fields), *map(F.col, self.part_cols)]
        )
        self.checked = _jseq(spark, [
            F.when(F.col(c).isNull(), F.raise_error(F.lit(_null_refused(c))))
            .otherwise(F.col(c))
            .alias(c)
            if c in self.not_null
            else F.col(c)
            for c in names
        ])

    def shape(self, df: DataFrame) -> DataFrame:
        """The batch aligned to the declared schema: missing columns take
        their default (or NULL), every column its declared type; tsid."""
        for name, default in self.defaults:
            df = df.withColumn(name, default)
        df = _select(df, self.casts)
        return df if self.tsid is None else df.withColumn(TSID_COLUMN, self.tsid)

    def place(self, df: DataFrame, seq: int) -> DataFrame:
        """A shaped batch with its ``__seq``, ``__segment`` and
        ``__partition`` columns."""
        df = df.withColumn(SEQ_COLUMN, F.lit(seq).cast("long"))
        for name, c in self.partitioning:
            df = df.withColumn(name, c)
        if self.scatter:
            # random write scatter (partition/rule/random.rs:40-48); reads
            # always fan out to every partition (random.rs:50-53)
            df = df.withColumn(PARTITION_COLUMN, random_partition_expr(self.scatter))
        return df


class Table:
    def __init__(self, spark: SparkSession, catalog: Catalog, name: str):
        self.spark = spark
        self.catalog = catalog
        self.name = name

    @property
    def meta(self):
        return self.catalog.get(self.name)

    # ------------------------------------------------------------- write --
    def write(self, df: DataFrame) -> int:
        """Append one batch; returns the assigned sequence number.

        Every py4j proxy the append makes sits in a reference cycle (it
        caches its method stubs, which point back at it), so the JVM keeps
        the append's plans, the batch's rows among them, until Python's next
        full collection.  Under request traffic that collection came every
        ~8 s, so the live JVM heap held 0-27 MB of such plans, depending on
        when it was read.  A full collection after each append frees them
        as the write ends."""
        seq = self._append(df)[0]
        gc.collect()
        return seq

    def write_counted(self, df: DataFrame) -> int:
        """Append one batch; returns its row count, which ``_commit`` read
        from its files' footers.  Collects after the append, as ``write``
        does."""
        n = sum(e["rows"] for e in self._append(df)[1].values())
        gc.collect()
        return n

    def _append(self, df: DataFrame) -> tuple[int, dict[str, dict]]:
        meta = self.meta
        schema = meta.schema
        spark_codec, arrow_codec = meta.codecs()  # refuses an unknown one before any work
        columns = tuple(df.columns)
        proj = self._projection(meta, columns)
        df = proj.shape(df)

        # First-flush sampling (sampler.rs).  Two independent decisions:
        #   - segment duration, when not declared in DDL;
        #   - the APPEND-table SST sort key (PrimaryKeySampler,
        #     sampler.rs:271-362): the 2 lowest-NDV key-kind columns
        #     (MAX_SUGGEST_PRIMARY_KEY_NUM, sampler.rs:62; floats/
        #     timestamps ineligible, datum.rs is_key_kind) ascending, then
        #     tsid + timestamp.  Low-cardinality-first sort keys make
        #     row-group min/max stats selective ("beneficial for sst
        #     prune"); Overwrite tables are excluded exactly like
        #     support_sample_pk (table_options.rs:521-526).
        # The sort-key sampling runs on the FIRST FLUSH regardless of an
        # explicit segment_duration (sampler.rs parity — previously it was
        # nested under the duration branch and explicit-duration tables
        # never got a key, ADVICE r02), and ONLY on the first flush, so
        # later writes never pay the NDV aggregates.
        # The samples are persisted through Catalog.update, which re-reads
        # the meta under the catalog lock: a stale write-back here would
        # clobber a concurrent evolve or sequence allocation (lost update).
        need_duration = meta.options.segment_duration_ms is None
        sample_pk = (
            meta.next_seq == 1
            and meta.options.update_mode == "APPEND"
            and meta.options.sampled_sort_key is None
            and not schema.primary_key
        )
        elig = [
            c.name
            for c in schema.columns
            if sample_pk
            and c.kind not in ("double", "float", "timestamp")
            and c.name != schema.timestamp_column
        ]
        if need_duration or (sample_pk and elig):
            aggs = [
                F.min(F.unix_millis(F.col(schema.timestamp_column))),
                F.max(F.unix_millis(F.col(schema.timestamp_column))),
            ] + [F.approx_count_distinct(c).alias(f"__ndv_{c}") for c in elig]
            sampled = df.agg(*aggs).first()
            lo, hi = sampled[0], sampled[1]
            span = (hi - lo) if lo is not None else 0

            def apply_samples(m) -> None:
                # a concurrent first flush may have sampled already
                if need_duration and m.options.segment_duration_ms is None:
                    m.options.segment_duration_ms = pick_segment_duration_ms(max(span, 1))
                if sample_pk and elig and m.options.sampled_sort_key is None:
                    ndv = list(zip(elig, sampled[2:]))
                    picked = [c for c, _ in sorted(ndv, key=lambda kv: kv[1])[:2]]
                    tail = [TSID_COLUMN] if schema.tsid_mode else []
                    m.options.sampled_sort_key = picked + tail + [schema.timestamp_column]

            meta = self.catalog.update(self.name, apply_samples)
            proj = self._projection(meta, columns)  # the sampled meta is a new version

        seq = self.catalog.allocate_seq(self.name)
        df = proj.place(df, seq)

        # a frame that folds (``_folds``) is collected and written by
        # pyarrow; any other frame by a Spark job.  Either refuses a NULL in
        # a NOT NULL column, with no job of its own: one would land in the
        # leaf of NULL partition values, with no timestamp range.
        fields, part_cols = proj.fields, proj.part_cols
        local = _select(df, proj.collected)
        if _folds(local):
            rows = local.collect()
            for i, f in enumerate(fields):
                if f.name in proj.not_null and any(r[i] is None for r in rows):
                    raise ValueError(_null_refused(f.name))
            unique = _key_unique(rows, fields, schema.effective_primary_key)

            def write(staging: str) -> bool:
                self._write_leaves(
                    staging, rows, fields, part_cols, proj.sort_key, arrow_codec,
                    meta.options.num_rows_per_row_group,
                )
                return unique

        else:
            df = _select(df, proj.checked)
            if proj.sort_key:
                df = df.sortWithinPartitions(*part_cols, *proj.sort_key)
            write = df.write.option("compression", spark_codec).partitionBy(*part_cols).parquet
        return seq, self._commit(meta, write, {})

    def _projection(self, meta, columns: tuple[str, ...]) -> _Projection:
        """``meta``'s write projection for a batch of ``columns``, memoized
        (``_PROJECTIONS``)."""
        key = (self.spark, self.catalog.data_dir(self.name))
        token = ({**meta.to_dict(), "next_seq": None}, columns)
        hit = _PROJECTIONS.get(key)
        if hit is None or hit[0] != token:
            hit = _PROJECTIONS[key] = (token, _Projection(self.spark, meta, columns))
        return hit[1]

    def _write_leaves(self, staging, rows, fields, part_cols, sort_key, codec, rows_per_group):
        """The driver writer: ``rows`` (``fields`` as ``_collected`` gives
        them, then ``part_cols``) grouped by leaf, each group sorted by
        ``sort_key`` ascending with NULLs first, as ``sortWithinPartitions``
        does, and written as one parquet file under ``staging/<leaf>``.

        The files carry what the Spark writer's do: every column nullable,
        the table's ``codec`` (pyarrow's name) and no Arrow schema blob.  A
        column is dictionary encoded only where at most half its values are
        distinct, as parquet-mr falls back to PLAIN for a near-unique one;
        and a row group holds ``rows_per_group`` rows."""
        nullable = [T.StructField(f.name, f.dataType) for f in fields]
        schema = to_arrow_schema(T.StructType(nullable))
        leaves: dict[tuple, list] = {}
        for row in rows:
            leaves.setdefault(tuple(row[len(fields) :]), []).append(row)
        # the filesystem pq.write_table writes through: Hadoop's local mkdirs
        # starts a process per directory level to set its permissions
        fs, root = FileSystem.from_uri(os.path.abspath(staging))
        for key, group in leaves.items():
            columns = list(zip(*group))
            table = pa.Table.from_arrays(
                [pa.array(v, t) for v, t in zip(columns, schema.types)], schema=schema
            )
            if sort_key:
                keys = [(c, "ascending") for c in sort_key]
                table = table.sort_by(keys, null_placement="at_start")
            repeats = [
                c for c, v in zip(schema.names, table.columns) if 2 * len(v.unique()) <= len(v)
            ]
            leaf = "/".join(
                f"{c}={_NULL_LEAF if v is None else v}" for c, v in zip(part_cols, key)
            )
            fs.create_dir(f"{root}/{leaf}")
            pq.write_table(
                table,
                f"{root}/{leaf}/part-{uuid.uuid4().hex}.parquet",
                filesystem=fs,
                compression=codec,
                row_group_size=rows_per_group,
                use_dictionary=repeats,
                store_schema=False,
            )

    # ------------------------------------------------------------ commit --
    def _commit(self, meta, write: Callable[[str], bool | None] | None, drop: dict[str, dict]):
        """``write(staging)`` files laid out as leaves, move them in, publish a file
        list adding them and dropping ``drop``, delete ``drop``; return the entries
        added — or, if a commit replaced part of ``drop`` first, delete them, None.
        Each entry holds the file's bytes, its footer's row count and range of
        ``meta``'s timestamp column (``_footer``), and ``unique``: what ``write``
        returned, true when no two rows it wrote share a primary key.  A rewrite (``write`` and
        ``drop``) that finds no file written raises: its version would drop the
        rows it read.  A failure or crash before the publish leaves only
        unlisted files (``sweep``)."""
        data = self.catalog.data_dir(self.name)
        staging = f"{data}/{STAGING}/{uuid.uuid4().hex}"
        try:
            unique = bool(write(staging)) if write else False
            ts = meta.schema.timestamp_column
            added = {
                path: {"bytes": n, **_footer(f"{staging}/{path}", ts), "unique": unique}
                for path, n in fsops.list_files(self.spark, staging).items()
            }
            if write and drop and not added:
                raise IOError(f"commit: rewrite of {len(drop)} files found none in {staging}")
            for path in added:
                _move(self.spark, f"{staging}/{path}", f"{data}/{path}")
            published = self.catalog.publish(self.name, added, drop)
        finally:
            fsops.delete(self.spark, staging)
        for path in drop if published else added:
            if not fsops.delete(self.spark, f"{data}/{path}"):
                raise IOError(f"commit: delete {data}/{path} failed (reclaimed at next open)")
        return added if published else None

    # -------------------------------------------------------------- read --
    def last_seq(self) -> int:
        """Highest sequence number allocated so far (0 before any write) —
        the snapshot token a reader passes back as ``as_of_seq``."""
        return self.meta.next_seq - 1

    def read(
        self,
        *,
        lo_ms: int | None = None,
        hi_ms: int | None = None,
        filters: dict | None = None,
        as_of_seq: int | None = None,
        now_ms: int | None = None,
        with_internal: bool = False,
    ) -> DataFrame:
        """The dedup-view read (SURVEY §7.1): Append → chain, Overwrite →
        newest-per-primary-key — the one read every reader builds.  An
        Overwrite table's files split in two (``_split_scans``): the window
        runs over its ``_overlapping`` files, the rest are scanned plainly,
        and the read is the union.  The steps up to ``as_of_seq`` apply to
        both sides below the window.

        Steps, in order:
        - ``filters`` (column → value or list of values) on the partition
          keys of a key-partitioned table also become a ``__partition IN
          (...)`` predicate below the dedup window, which Spark turns into
          partition pruning (locate_partitions_for_read, key.rs:192-230);
          dedup-safe because every row of a primary key shares them.  Other
          filters apply to the deduped rows (below, they would resurrect a
          superseded version).
        - TTL (table_options.rs:60): ``now_ms - ttl`` is one more lower
          time bound (the max with ``lo_ms``), so rows older than it are
          filtered out and wholly expired segments pruned unread, as the
          next step describes; ``ttl_expire`` drops them from the file list.
        - time bounds ``[lo_ms, hi_ms)`` also bound ``__segment``
          (predicate.rs:180-197 TimeRange → storage pruning).  A plain
          ``read().filter(t >= lo)`` cannot prune: Catalyst will not invert
          ``__segment = ts DIV segment_duration``.  The bounds come from
          the file list, not from the current duration, because leaves
          written before ``ALTER … MODIFY SETTING segment_duration`` were
          named under the old one (``_segment_bounds``).  The segment
          predicate prunes whole leaves at planning, the timestamp
          predicate trims the edge segments row-exactly.  Both sit below
          the dedup window, which is safe because the timestamp is part of
          the effective primary key (schema.rs:628): every version of a
          key shares its timestamp.
        - ``as_of_seq`` is the sequence-snapshot read (instance/read.rs: a
          read pins the memtable+SST view at a sequence; rows from later
          writes are invisible).  Batches carry one monotonic ``__seq``
          each, so filtering ``__seq <= as_of_seq`` BEFORE the dedup window
          reconstructs the table state after write ``as_of_seq`` — the
          Overwrite dedup picks the newest surviving version as of that
          point, not the newest ever.  ``compact()`` applies the Overwrite
          dedup while rewriting, reclaiming superseded versions (an LSM
          compaction GCs versions below the snapshot watermark when no live
          read pins them), so a snapshot older than the last compaction
          sees only the versions that survived it.

        - a read covering less than ``scale.GATE_BYTES`` (the FileMeta
          bytes of all its files, both sides) runs as one partition: each
          side is coalesced to one, so a statement over the read plans no
          exchange and runs as one Spark job of one task (``_split_scans``).

        A table with no data reads as an empty frame of the full read
        schema, so every step applies to it unchanged.  The argument-free
        read of a table without TTL is memoized with its base scan."""
        meta = self.meta
        schema, opts = meta.schema, meta.options
        key = (self.spark, self.catalog.data_dir(self.name))
        dedup = (opts.update_mode, *schema.effective_primary_key)
        while True:
            version, files = self.catalog.files(self.name)
            token = (meta.created_at_ms, version, _read_schema(meta).json(), dedup)
            hit = _SCANS.get(key)
            try:
                if hit is None or hit[0] != token:
                    hit = _SCANS[key] = (token, *self._split_scans(meta, files), None)
            except _SPARK_ERRORS:
                if files.keys() <= self.catalog.files(self.name)[1].keys():
                    raise
                continue  # Spark checks each path at planning; a commit dropped some
            if files.keys() <= self.catalog.files(self.name)[1].keys():  # else being deleted
                break
        bounded = lo_ms is not None or hi_ms is not None or as_of_seq is not None
        # the argument-free read of a table without TTL: a SQL statement's view
        view = not (bounded or filters or with_internal or opts.enable_ttl)
        if view and hit[3] is not None:
            return hit[3]

        below = []  # predicates every side takes below the dedup window
        if filters and opts.partition_keys:
            append = opts.update_mode == "APPEND"  # no dedup window
            under = {c: v for c, v in filters.items() if append or c in opts.partition_keys}
            keys, n = opts.partition_keys, opts.num_partitions
            below.append(pruned_filter(self.spark, keys, n, under))
            filters = {c: v for c, v in filters.items() if c not in under}
        if opts.enable_ttl:  # the TTL cut is one more lower bound
            now_ms = int(time.time() * 1000) if now_ms is None else now_ms
            cut = now_ms - opts.ttl_ms
            lo_ms = cut if lo_ms is None else max(lo_ms, cut)
        ts_ms = F.unix_millis(F.col(schema.timestamp_column))
        if lo_ms is not None or hi_ms is not None:
            seg = F.col(SEGMENT_COLUMN)
            lo_seg, hi_seg = _segment_bounds(files, lo_ms, hi_ms)
            if lo_ms is not None:
                below.append(seg >= lo_seg)
            if hi_ms is not None:
                below.append(seg <= hi_seg)
        if lo_ms is not None:
            below.append(ts_ms >= lo_ms)
        if hi_ms is not None:
            below.append(ts_ms < hi_ms)
        if as_of_seq is not None:
            below.append(F.col(SEQ_COLUMN) <= as_of_seq)

        keep = [c.name for c in schema.columns]
        if with_internal:
            keep = keep + ([TSID_COLUMN] if schema.tsid_mode else []) + [SEQ_COLUMN]
        sides = []
        for scan, overlapping in ((hit[1], False), (hit[2], True)):
            if scan is not None:
                scan = functools.reduce(DataFrame.filter, below, scan)
                if overlapping:
                    scan = _dedup(scan, schema.effective_primary_key)
                sides.append(scan.select(*keep))
        df = functools.reduce(DataFrame.union, sides)
        if filters:
            for c, v in filters.items():
                df = df.filter(
                    F.col(c).isin(list(v)) if isinstance(v, (list, tuple, set)) else (F.col(c) == v)
                )
        if view:  # over a newer entry, this one's token mismatches: rebuilt, never served
            _SCANS[key] = (*hit[:3], df)
        return df

    def _split_scans(self, meta, files) -> tuple[DataFrame | None, DataFrame | None]:
        """``files`` as ``read``'s two sides: the plain scan and the scan the
        dedup window runs over, each None when it has no file (the plain
        side of an empty table is its empty scan).  Only an OVERWRITE
        table's ``_overlapping`` files go under the window.

        When ``files`` hold less than ``scale.GATE_BYTES`` in all (their
        FileMeta bytes, no I/O), each side is one partition: ``coalesce(1)``
        reports SinglePartition, which the dedup window's and any
        aggregate's distribution accept, and so does the union of two such
        sides, so a statement over the read plans no exchange and runs as
        one task.  Filters still push below the coalesce into the scan."""
        over = _overlapping(files) if meta.options.update_mode == "OVERWRITE" else set()
        plain = {p: e for p, e in files.items() if p not in over}
        small = sum(e["bytes"] for e in files.values()) < scale.GATE_BYTES

        def side(part: dict[str, dict]) -> DataFrame:
            scan = self._scan(meta, part)
            return scan.coalesce(1) if small else scan

        return (
            side(plain) if plain or not over else None,
            side({p: files[p] for p in over}) if over else None,
        )

    def _scan(self, meta, files) -> DataFrame:
        """``files`` (data-dir-relative) read with the table's read schema."""
        data, schema = self.catalog.data_dir(self.name), _read_schema(meta)
        if not files:
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read.schema(schema).option("basePath", data)
        # Spark globs every path it is given: escape Hadoop's glob
        # characters so a table named `cpu[1]` reads its own files
        return reader.parquet(*[re.sub(r"([{}\[\]*?\\])", r"\\\1", f"{data}/{p}") for p in files])

    # -------------------------------------------------------- maintenance --
    # All three maintenance ops route list/move/delete through the Hadoop
    # FileSystem API (fsops) so they run unchanged over object storage —
    # os.listdir/shutil surgery only exists on a POSIX local disk — and
    # size rewrites to ~128 MB output files via repartition[ByRange]
    # instead of coalesce(1), which at 100 TB would funnel a hot segment
    # through one single-threaded task (compaction/picker.rs sizes SST
    # outputs the same way).

    def _leaves(self) -> dict[str, dict[str, dict]]:
        """leaf (``[__partition=P/]__segment=S``) → {file: entry}, listed."""
        return _by_leaf(self.catalog.files(self.name)[1])

    def _rewrite_segments(
        self, leaves: dict[str, dict[str, dict]], shape: Callable[[DataFrame, int], DataFrame],
        target_file_bytes: int, unique: bool,
    ) -> int:
        """The one per-leaf rewrite loop under ``compact`` and ``optimize_zorder``:
        for each leaf of ``leaves`` (leaf → {file: entry}), the files given are
        read with the table's read schema, passed through ``shape(df, nfiles)``
        (``nfiles`` sized to ``target_file_bytes``) and committed in place of
        exactly the files read, as key-unique files when ``unique``.  The leaf's
        other files stay.  Returns leaves rewritten."""
        meta = self.meta
        codec = meta.codecs()[0]
        rewritten = 0
        for leaf, files in leaves.items():

            def write(staging: str) -> bool:
                df = self._scan(meta, files).drop(SEGMENT_COLUMN, PARTITION_COLUMN)
                nbytes = sum(e["bytes"] for e in files.values())
                nfiles = fsops.n_output_files(nbytes, target_file_bytes)
                shape(df, nfiles).write.option("compression", codec).parquet(f"{staging}/{leaf}")
                return unique

            try:
                rewritten += self._commit(meta, write, files) is not None
            except _SPARK_ERRORS:
                if files.keys() <= self.catalog.files(self.name)[1].keys():
                    raise  # else an overlapping pass replaced them first
        return rewritten

    def compact(self, target_file_bytes: int = fsops.TARGET_FILE_BYTES) -> int:
        """Merge, in each leaf, the files whose rewrite changes something
        (``_pick``) into compacted, sort-clustered files, applying the
        Overwrite dedup — the TimeWindow compaction analogue.  The pick reads
        the FileMeta of one file-list version, the one ``_overlapping`` is
        computed from.  A leaf holding one key-unique file, or only settled
        files beside one, is left alone: a table whose leaves all are starts
        no Spark job and publishes no version.  A rewrite's output can meet
        a settled file's range; both then go under the read's dedup window
        until the next ``compact`` picks them.  Returns the number of
        rewritten leaves."""
        meta = self.meta
        pk = meta.schema.effective_primary_key
        overwrite = meta.options.update_mode == "OVERWRITE"
        files = self.catalog.files(self.name)[1]
        over = _overlapping(files) if overwrite else set()
        leaves = _pick(_by_leaf(files), over, overwrite, target_file_bytes)

        def shape(df: DataFrame, nfiles: int) -> DataFrame:
            if nfiles == 1:
                # one output file is one task: coalescing before the dedup
                # window lets it run in that task, with no shuffle
                df = df.coalesce(1)
            if overwrite:
                df = _dedup(df, pk).drop("__rn")
            sort_key = [c for c in (meta.options.sampled_sort_key or []) if c in df.columns]
            if not sort_key:
                return df.repartition(nfiles) if nfiles > 1 else df
            # range-partition on the sampled key, then sort within each
            # output file: files cover disjoint key ranges, so row-group
            # min/max stats prune across files too (not just inside one)
            out = df.repartitionByRange(nfiles, *sort_key) if nfiles > 1 else df
            return out.sortWithinPartitions(*sort_key)

        # the dedup leaves no two rows of a key in the files it read, and no
        # file left beside them can share a key with them
        return self._rewrite_segments(leaves, shape, target_file_bytes, overwrite)

    @staticmethod
    def zorder_column(cols: list[str], bits: int = 16):
        """Morton (Z-order) interleave of up to 3 integer columns — the
        multi-dimensional clustering key (public technique: Delta/Iceberg
        OPTIMIZE ZORDER).  Static bit expansion stays inside whole-stage
        codegen; len(cols)*bits ≤ 48 keeps the value in int64."""
        assert 1 <= len(cols) <= 3 and len(cols) * bits <= 48
        z = F.lit(0).cast("long")
        for j in range(bits):
            for k, c in enumerate(cols):
                bit = F.shiftright(F.col(c).cast("long"), j).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(bit, j * len(cols) + k)
        return z

    def optimize_zorder(
        self,
        cols: list[str],
        bits: int = 16,
        target_file_bytes: int = fsops.TARGET_FILE_BYTES,
    ) -> int:
        """Rewrite every segment clustered by the Z-order key of ``cols`` —
        after this, row-group min/max stats prune scans on ALL the
        z-ordered columns, not just the lead sort column.  The rewrite is
        per-segment (the loop compact uses), so at scale it runs as bounded
        parallel jobs, never a global sort.  Returns segments rewritten."""
        meta = self.meta
        for c in cols:
            kind = meta.schema.column(c).kind
            if kind in ("double", "float", "string", "timestamp", "varbinary"):
                raise ValueError(f"zorder column {c!r} must be integer-kind, got {kind}")
        z = self.zorder_column(cols, bits)

        def shape(df: DataFrame, nfiles: int) -> DataFrame:
            if nfiles == 1:
                return df.coalesce(1).sortWithinPartitions(z)
            # range-partition on the z-key so each output file owns a
            # disjoint Morton range — min/max prunes on every z-ordered
            # column across files (the Delta/Iceberg OPTIMIZE ZORDER shape)
            return (
                df.withColumn("__z", z)
                .repartitionByRange(nfiles, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )

        return self._rewrite_segments(self._leaves(), shape, target_file_bytes, False)

    def ttl_expire(self, now_ms: int | None = None) -> int:
        """Drop whole leaves beyond TTL (segment-level TTL purge —
        src/analytic_engine retention).  A leaf is expired when every file in
        it has a timestamp range that ends before ``now_ms - ttl``, whatever
        segment duration named the leaf.  A leaf with a file that has no
        range is judged by its segment number under the current duration,
        which is wrong for a leaf named under an older one.  Metadata-only:
        one commit that drops the files per expired leaf, no data read.
        Returns leaves dropped."""
        meta = self.meta
        seg_ms = meta.options.segment_duration_ms
        if not meta.options.enable_ttl or seg_ms is None:
            return 0
        now_ms = int(time.time() * 1000) if now_ms is None else now_ms
        cut = now_ms - meta.options.ttl_ms
        dropped = 0
        for leaf, files in self._leaves().items():
            if all("ts" in e for e in files.values()):
                expired = all(e["ts"][1] < cut for e in files.values())
            else:  # a segment is expired only when its whole range is expired
                seg = _segment(leaf)
                expired = seg is not None and seg + 1 <= cut // seg_ms
            if expired and self._commit(meta, None, files) is not None:
                leaf_dir = f"{self.catalog.data_dir(self.name)}/{leaf}"
                if not fsops.list_files(self.spark, leaf_dir):  # unlisted files wait for sweep
                    fsops.delete(self.spark, leaf_dir, recursive=False)
                dropped += 1
        return dropped


def _move(spark: SparkSession, src: str, dst: str) -> None:
    """Move a file into its leaf, making the leaf when the move finds none."""
    if not fsops.rename(spark, src, dst):
        fsops.mkdirs(spark, dst.rsplit("/", 1)[0])
        if not fsops.rename(spark, src, dst):
            raise IOError(f"commit: move {src} to {dst} failed")


def _first_file_list(spark: SparkSession, data: str, on_disk: dict[str, int]) -> dict[str, int]:
    """The files of a table written before file lists, as its directory listing
    read them (no ``.`` name, no ``_`` name without ``=``), after moving back
    each leaf a crashed rename-aside rewrite left only in ``.rewrite-old/``."""
    read = lambda p: not any(c[0] == "." or c[0] == "_" and "=" not in c for c in p.split("/"))
    leaves = {p.rsplit("/", 1)[0] for p in on_disk if read(p)}
    for p in [p for p in on_disk if p.startswith(".rewrite-old/")]:
        if (path := p.split("/", 1)[1]).rsplit("/", 1)[0] not in leaves:
            _move(spark, f"{data}/{p}", f"{data}/{path}")
            on_disk[path] = on_disk[p]
    return {p: n for p, n in on_disk.items() if read(p)}


def forget(catalog: Catalog, name: str) -> None:
    """Let go of ``name``'s memoized base scans and write projection in
    every session (DROP TABLE)."""
    for memo in (_SCANS, _PROJECTIONS):
        for key in [k for k in list(memo) if k[1] == catalog.data_dir(name)]:
            memo.pop(key, None)


def sweep(spark: SparkSession, catalog: Catalog) -> None:
    """At store open, delete the parquet files no file list names (a crashed
    commit's) and the staging area.  A table written before file lists first
    gets one (``_first_file_list``).

    One open Engine per store: a sweep run while another Engine commits to the
    store deletes that commit's moved files before it publishes them."""
    for name in catalog.list_tables():
        data = catalog.data_dir(name)
        on_disk = fsops.list_files(spark, data)
        try:
            listed = catalog.files(name)[1]
        except FileNotFoundError:
            listed = _first_file_list(spark, data, on_disk)
            catalog.seed_files(name, listed)
        for path in on_disk.keys() - listed.keys():
            fsops.delete(spark, f"{data}/{path}")
        fsops.delete(spark, f"{data}/{STAGING}")
