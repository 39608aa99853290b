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
  partition pruning);
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

``Table.read`` is the one scan: partition pruning, segment/time bounds,
the sequence snapshot, TTL and the dedup window compose in it.

Maintenance walks every segment leaf, ``[__partition=P/]__segment=S``
(compaction/picker.rs runs on every partition's segments): ``compact``
rewrites a segment's many small files into few, applying the dedup so read
amplification drops — the TimeWindow picker analogue; ``optimize_zorder``
uses the same rewrite loop, ``ttl_expire`` the same walk.
"""

from __future__ import annotations

import re
import threading
import time
from collections.abc import Callable

import pyarrow as pa
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

# one append lock per table data directory (see Table.write)
_WRITE_LOCKS: dict[str, threading.Lock] = {}
_WRITE_LOCKS_GUARD = threading.Lock()


def _write_lock(data_dir: str) -> threading.Lock:
    with _WRITE_LOCKS_GUARD:
        return _WRITE_LOCKS.setdefault(data_dir, threading.Lock())


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


_SEGMENT_DIR_RE = re.compile(f"^{SEGMENT_COLUMN}=\\d+$")
_PARTITION_DIR_RE = re.compile(f"^{PARTITION_COLUMN}=\\d+$")


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
        """Append one batch; returns the assigned sequence number.

        Serialized per table: concurrent append jobs into one directory
        share its ``_temporary/0`` staging dir, and the first commit deletes
        it under the others (failed writes whose rows still land)."""
        with _write_lock(self.catalog.data_dir(self.name)):
            return self._append(df)

    def _append(self, df: DataFrame) -> int:
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
        (
            df.write.mode("append")
            .option("compression", meta.options.compression.lower())
            .partitionBy(*part_cols)
            .parquet(self.catalog.data_dir(self.name))
        )
        return seq

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
        - ``filters`` (column → value or list of values) on a
          key-partitioned table become a ``__partition IN (...)`` predicate
          below the dedup window, which Spark turns into partition
          directory pruning (locate_partitions_for_read, key.rs:192-230);
          dedup-safe because every row of a primary key shares its
          partition id.  On other tables they filter the deduped rows.
        - time bounds ``[lo_ms, hi_ms)`` also bound ``__segment``
          (predicate.rs:180-197 TimeRange → storage pruning).  A plain
          ``read().filter(t >= lo)`` cannot prune: Catalyst will not invert
          ``__segment = ts DIV segment_duration``, but DIV is monotone, so
          t ∈ [lo, hi) ⇒ __segment ∈ [lo DIV d, (hi-1) DIV d].  The segment
          predicate prunes directories at file listing, the timestamp
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
        data = self.catalog.data_dir(self.name)
        layout = (f"{SEGMENT_COLUMN}=", f"{PARTITION_COLUMN}=")
        if any(d.startswith(layout) for d in fsops.list_dirs(self.spark, data)):
            df = self.spark.read.schema(_read_schema(meta)).parquet(data)
        else:
            df = self.spark.createDataFrame([], _read_schema(meta))

        if filters and opts.partition_keys:
            df = df.filter(
                pruned_filter(self.spark, opts.partition_keys, opts.num_partitions, filters)
            )
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
        if filters and not opts.partition_keys:
            for c, v in filters.items():
                df = df.filter(
                    F.col(c).isin(list(v)) if isinstance(v, (list, tuple, set)) else (F.col(c) == v)
                )
        return df

    # -------------------------------------------------------- maintenance --
    # All three maintenance ops route list/delete/rename through the Hadoop
    # FileSystem API (fsops) so they run unchanged over object storage —
    # os.listdir/shutil surgery only exists on a POSIX local disk — and
    # size rewrites to ~128 MB output files via repartition[ByRange]
    # instead of coalesce(1), which at 100 TB would funnel a hot segment
    # through one single-threaded task (compaction/picker.rs sizes SST
    # outputs the same way).

    def _segment_dirs(self, root: str | None = None) -> list[tuple[str, str]]:
        """(leaf, full path) of every segment directory under ``root``
        (default: the data dir).  A leaf is the layout ``_append`` writes:
        ``__segment=S``, or ``__partition=P/__segment=S`` on a partitioned
        table.

        Strictly ``<digits>`` values — anything else under the data dir (a
        crashed rewrite's leftovers, a foreign file) is not a segment and
        must not reach ttl_expire's int() or the rewrite loop."""
        root = root or self.catalog.data_dir(self.name)
        leaves = []
        for d in fsops.list_dirs(self.spark, root):
            if _SEGMENT_DIR_RE.match(d):
                leaves.append(d)
            elif _PARTITION_DIR_RE.match(d):
                leaves += [
                    f"{d}/{s}"
                    for s in fsops.list_dirs(self.spark, f"{root}/{d}")
                    if _SEGMENT_DIR_RE.match(s)
                ]
        return [(leaf, f"{root}/{leaf}") for leaf in leaves]

    # Rewrite staging/rollback areas, mirroring the leaf path (the same
    # __segment=S exists under several partitions).  Dot-prefixed so
    # Spark's file listing (which skips '.'/'_'-prefixed paths) never
    # discovers them as data — a crashed rewrite can leave them behind
    # without polluting reads or partition discovery.
    _TMP, _ASIDE = ".rewrite-tmp", ".rewrite-old"

    def _recover_stale_rewrites(self) -> None:
        """Crash recovery before any rewrite: drop half-written tmp output;
        for each aside segment, restore it if the live directory is missing
        (a crash hit between the two commit renames), else it is a
        committed rewrite whose cleanup delete was lost — drop it.  The
        walk goes down to segments: a live ``__partition=P`` directory says
        nothing about whether its segment ``S`` is live."""
        data = self.catalog.data_dir(self.name)
        fsops.delete(self.spark, f"{data}/{self._TMP}")
        for leaf, aside in self._segment_dirs(f"{data}/{self._ASIDE}"):
            live = f"{data}/{leaf}"
            if fsops.exists(self.spark, live):
                fsops.delete(self.spark, aside)
                continue
            fsops.mkdirs(self.spark, live.rsplit("/", 1)[0])
            if not fsops.rename(self.spark, aside, live):
                raise IOError(f"recovery rename failed: {aside} -> {live}")

    def _commit_rewrite(self, src: str, tmp: str, aside: str) -> None:
        """Swap the rewritten directory in: rename the live segment aside,
        rename the tmp output into place, then delete the aside copy.

        Real guarantee (not stronger): on HDFS/local each rename is atomic,
        so a racing reader's listing sees the old segment, the new segment,
        or — for the one-metadata-op window between the two renames — the
        segment absent; never a merge of old and new files.  A scan that
        already PLANNED over pre-rewrite files and executes after the swap
        fails loudly (Spark FILE_NOT_EXIST) rather than returning partial
        data — optimistic concurrency: wrong answers are impossible,
        conflicting readers retry (tests/test_maintenance_commit.py).  On
        S3A rename is copy+delete, so the absent window extends over the
        copy; the aside copy is a rollback path either way — a crash at
        any point is recoverable by _recover_stale_rewrites (the reference
        gets its manifest-flip guarantee from a meta-store pointer, which
        directory-granular storage cannot replicate; catalog.py documents
        that boundary).  Every FS call's boolean is checked: Hadoop
        reports most rename failures by returning false, and a silently
        failed rename here would lose the segment while compact() counts
        it as rewritten."""
        fsops.mkdirs(self.spark, aside.rsplit("/", 1)[0])
        if not fsops.rename(self.spark, src, aside):
            raise IOError(f"rewrite commit: rename {src} -> {aside} failed")
        if not fsops.rename(self.spark, tmp, src):
            # roll back so the segment is not lost, then fail loudly
            if not fsops.rename(self.spark, aside, src):
                raise IOError(
                    f"rewrite commit: rename {tmp} -> {src} failed AND rollback "
                    f"{aside} -> {src} failed; segment preserved at {aside}"
                )
            raise IOError(f"rewrite commit: rename {tmp} -> {src} failed (rolled back)")
        if not fsops.delete(self.spark, aside):
            raise IOError(f"rewrite commit: cleanup delete {aside} failed")

    def _rewrite_segments(
        self, shape: Callable[[DataFrame, int], DataFrame], target_file_bytes: int
    ) -> int:
        """The one per-segment rewrite loop under ``compact`` and
        ``optimize_zorder``: each leaf is read, passed through
        ``shape(df, nfiles)`` with ``nfiles`` sized to ``target_file_bytes``,
        written to its tmp path and committed.  A clean pass leaves no
        staging directories.  Passes over one table must not overlap: this
        cleanup, like recovery's tmp drop, assumes no other pass is in
        flight.  Returns the number of rewritten segments."""
        self._recover_stale_rewrites()
        data = self.catalog.data_dir(self.name)
        leaves = self._segment_dirs()
        for leaf, src in leaves:
            nfiles = fsops.n_output_files(fsops.dir_bytes(self.spark, src), target_file_bytes)
            tmp = f"{data}/{self._TMP}/{leaf}"
            shape(self.spark.read.parquet(src), nfiles).write.mode("overwrite").parquet(tmp)
            self._commit_rewrite(src, tmp, f"{data}/{self._ASIDE}/{leaf}")
        for staging in (self._TMP, self._ASIDE):
            fsops.delete(self.spark, f"{data}/{staging}")
        return len(leaves)

    def compact(self, target_file_bytes: int = fsops.TARGET_FILE_BYTES) -> int:
        """Rewrite each segment into compacted, sort-clustered files,
        applying Overwrite dedup — the TimeWindow compaction analogue.
        Returns the number of rewritten segments."""
        meta = self.meta
        pk = meta.schema.effective_primary_key

        def shape(df: DataFrame, nfiles: int) -> DataFrame:
            if meta.options.update_mode == "OVERWRITE":
                df = _dedup(df, [c for c in pk if c in df.columns] or pk).drop("__rn")
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
        src/analytic_engine retention).  Metadata-only: the segment walk's
        LISTs plus one recursive delete per expired segment, no data read.
        Returns segments dropped."""
        meta = self.meta
        if not meta.options.enable_ttl or meta.options.segment_duration_ms is None:
            return 0
        now_ms = int(time.time() * 1000) if now_ms is None else now_ms
        cutoff_seg = (now_ms - meta.options.ttl_ms) // meta.options.segment_duration_ms
        dropped = 0
        for leaf, src in self._segment_dirs():
            # a segment is expired only when its whole range is expired
            if int(leaf.rsplit("=", 1)[1]) + 1 <= cutoff_seg:
                fsops.delete(self.spark, src)
                dropped += 1
        return dropped
