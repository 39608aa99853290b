"""Table write/read paths — the Spark rendering of the analytic engine.

Write path (replaces WAL → memtable → flush,
src/analytic_engine/src/instance/write.rs):
- every write batch gets one monotonic ``__seq`` from the catalog (the
  SequenceNumber analogue — dedup order is total per table);
- tsid-mode tables get the hidden ``tsid`` column = xxhash64 of tag values
  (TsidBuilder, src/interpreters/src/insert.rs:179-216);
- rows land in time partitions ``__segment`` = ts DIV segment_duration
  (segment organization, table_options.rs:54; duration sampled from the
  first batch via the reference ladder when unset, sampler.rs:42-51);
- parquet append partitioned by ``__segment`` — at 100 TB the partition
  column is what makes time-range queries prune (predicate.rs TimeRange →
  partition pruning); each append is staged privately and committed by
  the catalog's file list (``Table._commit``), so appends take no lock;
- a request's rows held on the driver (protocol writes, INSERT VALUES,
  COPY/LOAD) enter as one Arrow-backed local relation (``batch_frame``),
  so one task writes one file per segment the request touches.

Read path (replaces MergeIterator/DedupIterator/ChainIterator,
src/analytic_engine/src/row_iter/):
- Append tables: plain scan (ChainIterator — concatenation, no merge);
- Overwrite tables: keep the newest row per primary key —
  ROW_NUMBER() OVER (PARTITION BY pk ORDER BY __seq DESC) = 1
  (merge.rs:126 need_dedup + dedup.rs keep-newest-sequence);
- TTL: rows older than now - ttl are filtered out at read when
  enable_ttl (table_options.rs:60); whole segments are dropped only by
  ``ttl_expire``.

``Table.read`` is the one scan, of the listed files: partition pruning,
segment/time bounds, the sequence snapshot, TTL and the dedup window.

Maintenance walks every listed leaf, ``[__partition=P/]__segment=S``
(compaction/picker.rs runs on every partition's segments): ``compact``
rewrites a leaf's many small files into few, applying the dedup so read
amplification drops — the TimeWindow picker analogue; ``optimize_zorder``
uses the same rewrite loop, ``ttl_expire`` the same walk.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_horaedb_spark import fsops
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
_SPARK_ERRORS = (PySparkException, Py4JJavaError)  # what a Spark call raises

# Table.read's base scan per (session, data dir) while table, file-list version
# and read schema hold: planning a file list costs ~50 ms, +370 ms above 32 paths
# (local[4]).  DROP TABLE lets go of a table's entries (``forget``).
_SCANS: dict[tuple, tuple[tuple, DataFrame]] = {}

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
    relation: no Python worker re-pickles the rows.  The frame is
    coalesced to ``fsops.n_output_files`` of the Arrow bytes, the sizing
    compaction uses, so a request under 128 MiB is written by one task as
    one file per segment it touches.

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
    return spark.createDataFrame(table).coalesce(fsops.n_output_files(table.nbytes))


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
        """Append one batch; returns the assigned sequence number."""
        return self._append(df)[0]

    def write_counted(self, df: DataFrame) -> int:
        """Append one batch; returns its row count, from its files' footers."""
        return self._scan(self.meta, self._append(df)[1]).count()

    def _append(self, df: DataFrame) -> tuple[int, dict[str, int]]:
        meta = self.meta
        schema = meta.schema

        # align to declared schema: missing columns → default value / NULL
        for col in schema.columns:
            if col.name not in df.columns:
                # defaults are SQL expression text (may reference earlier
                # columns, e.g. `c5 uint32 default c3*2 + 1`) — evaluated in
                # schema order so prior defaults are in scope
                dv = col.default_value
                default = (F.expr(dv) if isinstance(dv, str) else F.lit(dv)).cast(
                    col.spark_type
                )
                df = df.withColumn(col.name, default)
        df = df.select(
            *[F.col(c.name).cast(c.spark_type).alias(c.name) for c in schema.columns]
        )

        if schema.tsid_mode:
            tags = schema.tag_columns
            tsid = tsid_expr(tags) if tags else F.lit(0).cast("long")
            df = df.withColumn(TSID_COLUMN, tsid)

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

        seq = self.catalog.allocate_seq(self.name)
        df = df.withColumn(SEQ_COLUMN, F.lit(seq).cast("long"))

        seg_ms = meta.options.segment_duration_ms
        df = df.withColumn(
            SEGMENT_COLUMN,
            (F.unix_millis(F.col(schema.timestamp_column)) / seg_ms).cast("long"),
        )
        part_cols = [SEGMENT_COLUMN]
        if meta.options.partition_keys:
            # key-partitioned table (partition/rule/key.rs): hash bucket col
            df = df.withColumn(
                PARTITION_COLUMN,
                key_partition_expr(meta.options.partition_keys, meta.options.num_partitions),
            )
            part_cols = [PARTITION_COLUMN, SEGMENT_COLUMN]
        elif meta.options.partition_method == "random" and meta.options.num_partitions > 1:
            # random write scatter (partition/rule/random.rs:40-48); reads
            # always fan out to every partition (random.rs:50-53)
            df = df.withColumn(
                PARTITION_COLUMN, random_partition_expr(meta.options.num_partitions)
            )
            part_cols = [PARTITION_COLUMN, SEGMENT_COLUMN]
        if meta.options.sampled_sort_key:
            # cluster rows for the sampled key inside each task's output
            # files: no shuffle, but every row group's min/max stats on the
            # low-NDV lead columns become selective (SST prune analogue)
            df = df.sortWithinPartitions(
                *part_cols, *[c for c in meta.options.sampled_sort_key if c in df.columns]
            )
        writer = df.write.option("compression", meta.options.compression.lower())
        return seq, self._commit(writer.partitionBy(*part_cols).parquet, {})

    # ------------------------------------------------------------ commit --
    def _commit(self, write: Callable[[str], None] | None, drop: dict[str, int]):
        """``write(staging)`` files laid out as leaves, move them in, publish a file
        list adding them and dropping ``drop``, delete ``drop``; return the files
        added — or, if a commit replaced part of ``drop`` first, delete them, None.
        A rewrite (``write`` and ``drop``) that finds no file written raises: its
        version would drop the rows it read.  A failure or crash before the
        publish leaves only unlisted files (``sweep``)."""
        data = self.catalog.data_dir(self.name)
        staging = f"{data}/{STAGING}/{uuid.uuid4().hex}"
        try:
            if write:
                write(staging)
            added = fsops.list_files(self.spark, staging)
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
        newest-per-primary-key — the one scan every reader builds.

        Steps, in order:
        - ``filters`` (column → value or list of values) on the partition
          keys of a key-partitioned table also become a ``__partition IN
          (...)`` predicate below the dedup window, which Spark turns into
          partition pruning (locate_partitions_for_read, key.rs:192-230);
          dedup-safe because every row of a primary key shares them.  Other
          filters apply to the deduped rows (below, they would resurrect a
          superseded version).
        - time bounds ``[lo_ms, hi_ms)`` also bound ``__segment``
          (predicate.rs:180-197 TimeRange → storage pruning).  A plain
          ``read().filter(t >= lo)`` cannot prune: Catalyst will not invert
          ``__segment = ts DIV segment_duration``, but DIV is monotone, so
          t ∈ [lo, hi) ⇒ __segment ∈ [lo DIV d, (hi-1) DIV d].  The segment
          predicate prunes whole leaves at planning, the timestamp
          predicate trims the edge segments row-exactly.  Both sit below
          the dedup window, which is safe because the timestamp is part of
          the effective primary key (schema.rs:628): every version of a
          key shares its timestamp, hence its segment.
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
        - TTL (table_options.rs:60): rows older than ``now_ms - ttl`` are
          filtered out; whole segments are dropped only by ``ttl_expire``.

        A table with no data reads as an empty frame of the full read
        schema, so every step applies to it unchanged."""
        meta = self.meta
        schema, opts = meta.schema, meta.options
        key = (self.spark, self.catalog.data_dir(self.name))
        while True:
            version, files = self.catalog.files(self.name)
            token = (meta.created_at_ms, version, _read_schema(meta).json())
            hit = _SCANS.get(key)
            try:
                if hit is None or hit[0] != token:
                    hit = _SCANS[key] = (token, self._scan(meta, files))
            except _SPARK_ERRORS:
                if files.keys() <= self.catalog.files(self.name)[1].keys():
                    raise
                continue  # Spark checks each path at planning; a commit dropped some
            if files.keys() <= self.catalog.files(self.name)[1].keys():  # else being deleted
                break
        df = hit[1]

        if filters and opts.partition_keys:
            append = opts.update_mode == "APPEND"  # no dedup window
            below = {c: v for c, v in filters.items() if append or c in opts.partition_keys}
            keys, n = opts.partition_keys, opts.num_partitions
            df = df.filter(pruned_filter(self.spark, keys, n, below))
            filters = {c: v for c, v in filters.items() if c not in below}
        seg_ms = opts.segment_duration_ms
        if seg_ms:
            seg = F.col(SEGMENT_COLUMN)
            if lo_ms is not None:
                df = df.filter(seg >= lo_ms // seg_ms)
            if hi_ms is not None:
                df = df.filter(seg <= (hi_ms - 1) // seg_ms)
        ts_ms = F.unix_millis(F.col(schema.timestamp_column))
        if lo_ms is not None:
            df = df.filter(ts_ms >= lo_ms)
        if hi_ms is not None:
            df = df.filter(ts_ms < hi_ms)
        if as_of_seq is not None:
            df = df.filter(F.col(SEQ_COLUMN) <= as_of_seq)
        if opts.enable_ttl:
            now_ms = int(time.time() * 1000) if now_ms is None else now_ms
            df = df.filter(ts_ms >= now_ms - opts.ttl_ms)
        if opts.update_mode == "OVERWRITE":
            df = _dedup(df, schema.effective_primary_key)

        keep = [c.name for c in schema.columns]
        if with_internal:
            keep = keep + ([TSID_COLUMN] if schema.tsid_mode else []) + [SEQ_COLUMN]
        df = df.select(*keep)
        if filters:
            for c, v in filters.items():
                df = df.filter(
                    F.col(c).isin(list(v)) if isinstance(v, (list, tuple, set)) else (F.col(c) == v)
                )
        return df

    def _scan(self, meta, files) -> DataFrame:
        """``files`` (data-dir-relative) read with the table's read schema."""
        data, schema = self.catalog.data_dir(self.name), _read_schema(meta)
        if not files:
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read.schema(schema).option("basePath", data)
        return reader.parquet(*[f"{data}/{p}" for p in files])

    # -------------------------------------------------------- maintenance --
    # All three maintenance ops route list/move/delete through the Hadoop
    # FileSystem API (fsops) so they run unchanged over object storage —
    # os.listdir/shutil surgery only exists on a POSIX local disk — and
    # size rewrites to ~128 MB output files via repartition[ByRange]
    # instead of coalesce(1), which at 100 TB would funnel a hot segment
    # through one single-threaded task (compaction/picker.rs sizes SST
    # outputs the same way).

    def _leaves(self) -> dict[str, dict[str, int]]:
        """leaf (``[__partition=P/]__segment=S``) → {file: bytes}, listed."""
        leaves: dict[str, dict[str, int]] = {}
        for path, size in sorted(self.catalog.files(self.name)[1].items()):
            leaves.setdefault(path.rsplit("/", 1)[0], {})[path] = size
        return leaves

    def _rewrite_segments(
        self, shape: Callable[[DataFrame, int], DataFrame], target_file_bytes: int
    ) -> int:
        """The one per-leaf rewrite loop under ``compact`` and ``optimize_zorder``:
        each leaf's files are read with the table's read schema, passed through
        ``shape(df, nfiles)`` (``nfiles`` sized to ``target_file_bytes``) and
        committed in place of exactly the files read.  Returns leaves rewritten."""
        meta = self.meta
        rewritten = 0
        for leaf, files in self._leaves().items():

            def write(staging: str) -> None:
                df = self._scan(meta, files).drop(SEGMENT_COLUMN, PARTITION_COLUMN)
                nfiles = fsops.n_output_files(sum(files.values()), target_file_bytes)
                shape(df, nfiles).write.parquet(f"{staging}/{leaf}")

            try:
                rewritten += self._commit(write, files) is not None
            except _SPARK_ERRORS:
                if files.keys() <= self.catalog.files(self.name)[1].keys():
                    raise  # else an overlapping pass replaced them first
        return rewritten

    def compact(self, target_file_bytes: int = fsops.TARGET_FILE_BYTES) -> int:
        """Rewrite each segment into compacted, sort-clustered files,
        applying Overwrite dedup — the TimeWindow compaction analogue.
        Returns the number of rewritten segments."""
        meta = self.meta
        pk = meta.schema.effective_primary_key

        def shape(df: DataFrame, nfiles: int) -> DataFrame:
            if meta.options.update_mode == "OVERWRITE":
                df = _dedup(df, pk).drop("__rn")
            sort_key = [c for c in (meta.options.sampled_sort_key or []) if c in df.columns]
            if not sort_key:
                return df.repartition(nfiles) if nfiles > 1 else df.coalesce(1)
            # range-partition on the sampled key, then sort within each
            # output file: files cover disjoint key ranges, so row-group
            # min/max stats prune across files too (not just inside one)
            out = df.repartitionByRange(nfiles, *sort_key) if nfiles > 1 else df.coalesce(1)
            return out.sortWithinPartitions(*sort_key)

        return self._rewrite_segments(shape, target_file_bytes)

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

        return self._rewrite_segments(shape, target_file_bytes)

    def ttl_expire(self, now_ms: int | None = None) -> int:
        """Drop whole segments beyond TTL (segment-level TTL purge —
        src/analytic_engine retention).  Metadata-only: one commit that
        drops the files per expired leaf, no data read.  Returns leaves
        dropped."""
        meta = self.meta
        if not meta.options.enable_ttl or meta.options.segment_duration_ms is None:
            return 0
        now_ms = int(time.time() * 1000) if now_ms is None else now_ms
        cutoff_seg = (now_ms - meta.options.ttl_ms) // meta.options.segment_duration_ms
        dropped = 0
        for leaf, files in self._leaves().items():
            # a segment is expired only when its whole range is expired
            expired = int(leaf.rsplit("=", 1)[1]) + 1 <= cutoff_seg
            if expired and self._commit(None, files) is not None:
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
    """Let go of ``name``'s memoized base scans in every session (DROP TABLE)."""
    for key in [k for k in list(_SCANS) if k[1] == catalog.data_dir(name)]:
        _SCANS.pop(key, None)


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
