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
  partition pruning).

Read path (replaces MergeIterator/DedupIterator/ChainIterator,
src/analytic_engine/src/row_iter/):
- Append tables: plain scan (ChainIterator — concatenation, no merge);
- Overwrite tables: keep the newest row per primary key —
  ROW_NUMBER() OVER (PARTITION BY pk ORDER BY __seq DESC) = 1
  (merge.rs:126 need_dedup + dedup.rs keep-newest-sequence);
- TTL: rows older than now - ttl are filtered out (and their whole
  segments pruned) when enable_ttl (table_options.rs:60).

Compaction (compaction/picker.rs): ``compact`` rewrites a time partition's
many small files into few, applying the dedup so read amplification drops —
the TimeWindow picker analogue.
"""

from __future__ import annotations

import re
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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
        # NB: re-read meta before persisting — a stale write-back here
        # would clobber the seq counter allocated below (lost update).
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
            meta = self.meta
            changed = False
            if need_duration and meta.options.segment_duration_ms is None:
                meta.options.segment_duration_ms = pick_segment_duration_ms(max(span, 1))
                changed = True
            if sample_pk and elig and meta.options.sampled_sort_key is None:
                ndv = list(zip(elig, sampled[2:]))
                picked = [c for c, _ in sorted(ndv, key=lambda kv: kv[1])[:2]]
                tail = [TSID_COLUMN] if schema.tsid_mode else []
                meta.options.sampled_sort_key = picked + tail + [schema.timestamp_column]
                changed = True
            if changed:
                self.catalog.update(meta)

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
        now_ms: int | None = None,
        with_internal: bool = False,
        as_of_seq: int | None = None,
    ) -> DataFrame:
        """The dedup-view read (SURVEY §7.1): Append → chain, Overwrite →
        newest-per-primary-key.

        ``as_of_seq`` is the sequence-snapshot read (instance/read.rs: a
        read pins the memtable+SST view at a sequence; rows from later
        writes are invisible).  Batches carry one monotonic ``__seq``
        each, so filtering ``__seq <= as_of_seq`` BEFORE the dedup window
        reconstructs the table state after write ``as_of_seq`` — the
        Overwrite dedup picks the newest surviving version as of that
        point, not the newest ever.  Snapshot retention follows the
        reference's compaction semantics: ``compact()`` applies the
        Overwrite dedup while rewriting, reclaiming superseded versions
        (an LSM compaction GCs versions below the snapshot watermark when
        no live read pins them), so a snapshot older than the last
        compaction sees only the versions that survived it.  Concurrent
        reader-vs-maintenance visibility is covered separately by the
        maintenance race gates."""
        meta = self.meta
        schema = meta.schema
        data = self.catalog.data_dir(self.name)
        has_data = bool(
            fsops.list_dirs(self.spark, data, prefix=f"{SEGMENT_COLUMN}=")
            or fsops.list_dirs(self.spark, data, prefix=f"{PARTITION_COLUMN}=")
        )
        if not has_data:
            df = self.spark.createDataFrame([], schema.spark_schema(include_internal=True))
        else:
            df = self.spark.read.schema(
                self._read_schema()
            ).parquet(data)

        if as_of_seq is not None:
            df = df.filter(F.col(SEQ_COLUMN) <= as_of_seq)

        if meta.options.enable_ttl:
            now_ms = int(time.time() * 1000) if now_ms is None else now_ms
            cutoff = now_ms - meta.options.ttl_ms
            df = df.filter(F.unix_millis(F.col(schema.timestamp_column)) >= cutoff)

        if meta.options.update_mode == "OVERWRITE":
            pk = schema.effective_primary_key
            w = Window.partitionBy(*pk).orderBy(F.col(SEQ_COLUMN).desc())
            df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)

        keep = [c.name for c in schema.columns]
        if with_internal:
            keep = keep + ([TSID_COLUMN] if schema.tsid_mode else []) + [SEQ_COLUMN]
        return df.select(*keep)

    def _read_schema(self):
        """Explicit read schema = current table schema (+ internals) so old
        segments written before an ALTER ADD COLUMN read the new column as
        NULL — schema evolution without mergeSchema scans."""
        from pyspark.sql import types as T

        meta = self.meta
        s = meta.schema.spark_schema(include_internal=True)
        extra = [T.StructField(SEGMENT_COLUMN, T.LongType(), True)]
        if meta.options.partition_keys:
            extra.insert(0, T.StructField(PARTITION_COLUMN, T.IntegerType(), True))
        return T.StructType(s.fields + extra)

    def read_time_range(
        self,
        lo_ms: int | None = None,
        hi_ms: int | None = None,
        now_ms: int | None = None,
    ) -> DataFrame:
        """Time-range read with SEGMENT pruning (predicate.rs:180-197
        TimeRange → storage pruning; asserted by query-plan.sql's
        'should not include SST' cases).

        A plain ``read().filter(t >= lo)`` cannot prune: the partition
        column is ``__segment = ts DIV segment_duration`` and Catalyst will
        not invert that relationship.  This read derives the segment bounds
        from the time bounds (DIV is monotone, so t ∈ [lo, hi) ⇒ __segment
        ∈ [lo DIV d, (hi-1) DIV d]) and filters BOTH columns BELOW the
        dedup window — the segment predicate prunes partition directories
        at file listing, the timestamp predicate trims the edge segments
        row-exactly.  Below-window filtering is dedup-safe because the
        timestamp column is part of the effective primary key
        (schema.rs:628): every version of a key shares its timestamp, hence
        its segment."""
        meta = self.meta
        schema = meta.schema
        seg_ms = meta.options.segment_duration_ms
        data = self.catalog.data_dir(self.name)
        if not fsops.list_dirs(self.spark, data):
            return self.read(now_ms=now_ms)
        df = self.spark.read.schema(self._read_schema()).parquet(data)
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
        if meta.options.enable_ttl:
            now = int(time.time() * 1000) if now_ms is None else now_ms
            df = df.filter(ts_ms >= now - meta.options.ttl_ms)
        if meta.options.update_mode == "OVERWRITE":
            pk = schema.effective_primary_key
            w = Window.partitionBy(*pk).orderBy(F.col(SEQ_COLUMN).desc())
            df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
        return df.select(*[c.name for c in schema.columns])

    def read_pruned(
        self,
        filters: dict,
        now_ms: int | None = None,
        lo_ms: int | None = None,
        hi_ms: int | None = None,
    ) -> DataFrame:
        """Key-partition-pruned read: equality/in-list filters over the
        partition keys become a ``__partition IN (...)`` predicate that
        Spark turns into partition directory pruning
        (locate_partitions_for_read, key.rs:192-230).  Optional time
        bounds compose with it the same way ``read_time_range`` does —
        derived ``__segment`` bounds prune the time dimension of the
        directory layout, the row-exact timestamp predicate trims edge
        segments — so a tag-equality + time-range query (the canonical
        TSDB shape, query-plan.sql:38-66) lists only the
        (partition x segment) directories it touches."""
        meta = self.meta
        if not meta.options.partition_keys:
            df = self.read(now_ms=now_ms) if lo_ms is None and hi_ms is None else (
                self.read_time_range(lo_ms=lo_ms, hi_ms=hi_ms, now_ms=now_ms)
            )
            for c, v in filters.items():
                df = df.filter(F.col(c).isin(list(v)) if isinstance(v, (list, tuple, set)) else (F.col(c) == v))
            return df
        cond = pruned_filter(
            self.spark, meta.options.partition_keys, meta.options.num_partitions, filters
        )
        # apply the partition filter below the dedup window so pruning
        # reaches the scan (dedup by pk is per-partition-key-safe: all rows
        # of a pk share the partition id)
        schema = meta.schema
        df = self.spark.read.schema(self._read_schema()).parquet(
            self.catalog.data_dir(self.name)
        ).filter(cond)
        seg_ms = meta.options.segment_duration_ms
        if seg_ms:
            seg = F.col(SEGMENT_COLUMN)
            if lo_ms is not None:
                df = df.filter(seg >= lo_ms // seg_ms)
            if hi_ms is not None:
                df = df.filter(seg <= (hi_ms - 1) // seg_ms)
        ts_ms_col = F.unix_millis(F.col(schema.timestamp_column))
        if lo_ms is not None:
            df = df.filter(ts_ms_col >= lo_ms)
        if hi_ms is not None:
            df = df.filter(ts_ms_col < hi_ms)
        if meta.options.enable_ttl:
            now = int(__import__("time").time() * 1000) if now_ms is None else now_ms
            df = df.filter(
                F.unix_millis(F.col(schema.timestamp_column)) >= now - meta.options.ttl_ms
            )
        if meta.options.update_mode == "OVERWRITE":
            pk = schema.effective_primary_key
            w = Window.partitionBy(*pk).orderBy(F.col(SEQ_COLUMN).desc())
            df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
        return df.select(*[c.name for c in schema.columns])

    # -------------------------------------------------------- maintenance --
    # All three maintenance ops route list/delete/rename through the Hadoop
    # FileSystem API (fsops) so they run unchanged over object storage —
    # os.listdir/shutil surgery only exists on a POSIX local disk — and
    # size rewrites to ~128 MB output files via repartition[ByRange]
    # instead of coalesce(1), which at 100 TB would funnel a hot segment
    # through one single-threaded task (compaction/picker.rs sizes SST
    # outputs the same way).

    _SEGMENT_DIR_RE = re.compile(f"^{SEGMENT_COLUMN}=\\d+$")

    def _segment_dirs(self) -> list[tuple[str, str]]:
        """(name, full path) of every time-partition directory.

        Strictly ``__segment=<digits>`` — anything else under the data dir
        (a crashed rewrite's leftovers, a foreign file) is not a segment
        and must not reach ttl_expire's int() or compact's rewrite loop."""
        data = self.catalog.data_dir(self.name)
        return [
            (seg, f"{data}/{seg}")
            for seg in fsops.list_dirs(self.spark, data, prefix=f"{SEGMENT_COLUMN}=")
            if self._SEGMENT_DIR_RE.match(seg)
        ]

    # Rewrite staging/rollback areas.  Dot-prefixed so Spark's file listing
    # (which skips '.'/'_'-prefixed paths) never discovers them as data —
    # a crashed rewrite can leave them behind without polluting reads or
    # partition discovery.
    def _tmp_dir(self, seg: str) -> str:
        return f"{self.catalog.data_dir(self.name)}/.rewrite-tmp/{seg}"

    def _aside_dir(self, seg: str) -> str:
        return f"{self.catalog.data_dir(self.name)}/.rewrite-old/{seg}"

    def _recover_stale_rewrites(self) -> None:
        """Crash recovery before any rewrite: drop half-written tmp output;
        for each aside segment, restore it if the live directory is missing
        (a crash hit between the two commit renames), else it is a
        committed rewrite whose cleanup delete was lost — drop it."""
        data = self.catalog.data_dir(self.name)
        fsops.delete(self.spark, f"{data}/.rewrite-tmp")
        for seg in fsops.list_dirs(self.spark, f"{data}/.rewrite-old"):
            live = f"{data}/{seg}"
            aside = self._aside_dir(seg)
            if fsops.exists(self.spark, live):
                fsops.delete(self.spark, aside)
            elif not fsops.rename(self.spark, aside, live):
                raise IOError(f"recovery rename failed: {aside} -> {live}")

    def _commit_rewrite(self, src: str, tmp: str) -> None:
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
        seg = src.rsplit("/", 1)[1]
        aside = self._aside_dir(seg)
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

    def compact(self, target_file_bytes: int = fsops.TARGET_FILE_BYTES) -> int:
        """Rewrite each time partition into compacted, sort-clustered files,
        applying Overwrite dedup — the TimeWindow compaction analogue.
        Returns the number of rewritten partitions."""
        meta = self.meta
        rewritten = 0
        self._recover_stale_rewrites()
        for seg, src in self._segment_dirs():
            df = self.spark.read.parquet(src)
            if meta.options.update_mode == "OVERWRITE":
                pk = [
                    c for c in meta.schema.effective_primary_key if c in df.columns
                ] or meta.schema.effective_primary_key
                w = Window.partitionBy(*pk).orderBy(F.col(SEQ_COLUMN).desc())
                df = df.withColumn("__rn", F.row_number().over(w)).filter(
                    F.col("__rn") == 1
                ).drop("__rn")
            nfiles = fsops.n_output_files(
                fsops.dir_bytes(self.spark, src), target_file_bytes
            )
            sort_key = [
                c for c in (meta.options.sampled_sort_key or []) if c in df.columns
            ]
            if sort_key:
                # range-partition on the sampled key, then sort within each
                # output file: files cover disjoint key ranges, so row-group
                # min/max stats prune across files too (not just inside one)
                out = (
                    df.repartitionByRange(nfiles, *sort_key)
                    .sortWithinPartitions(*sort_key)
                    if nfiles > 1
                    else df.coalesce(1).sortWithinPartitions(*sort_key)
                )
            else:
                out = df.repartition(nfiles) if nfiles > 1 else df.coalesce(1)
            tmp = self._tmp_dir(seg)
            out.write.mode("overwrite").parquet(tmp)
            self._commit_rewrite(src, tmp)
            rewritten += 1
        return rewritten

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
        """Rewrite every time partition clustered by the Z-order key of
        ``cols`` — after this, row-group min/max stats prune scans on ALL
        the z-ordered columns, not just the lead sort column.  The rewrite
        is per-segment (same shape as compact), so at scale it runs as
        bounded parallel jobs, never a global sort.  Returns partitions
        rewritten."""
        meta = self.meta
        for c in cols:
            kind = meta.schema.column(c).kind
            if kind in ("double", "float", "string", "timestamp", "varbinary"):
                raise ValueError(f"zorder column {c!r} must be integer-kind, got {kind}")
        rewritten = 0
        self._recover_stale_rewrites()
        for seg, src in self._segment_dirs():
            df = self.spark.read.parquet(src)
            z = self.zorder_column(cols, bits)
            nfiles = fsops.n_output_files(
                fsops.dir_bytes(self.spark, src), target_file_bytes
            )
            # range-partition on the z-key so each output file owns a
            # disjoint Morton range — min/max prunes on every z-ordered
            # column across files (the Delta/Iceberg OPTIMIZE ZORDER shape)
            out = (
                df.withColumn("__z", z)
                .repartitionByRange(nfiles, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
                if nfiles > 1
                else df.coalesce(1).sortWithinPartitions(z)
            )
            tmp = self._tmp_dir(seg)
            out.write.mode("overwrite").parquet(tmp)
            self._commit_rewrite(src, tmp)
            rewritten += 1
        return rewritten

    def ttl_expire(self, now_ms: int | None = None) -> int:
        """Drop whole segments beyond TTL (segment-level TTL purge —
        src/analytic_engine retention).  Metadata-only: one LIST plus one
        recursive delete per expired segment, no data read.  Returns
        segments dropped."""
        meta = self.meta
        if not meta.options.enable_ttl or meta.options.segment_duration_ms is None:
            return 0
        now_ms = int(time.time() * 1000) if now_ms is None else now_ms
        cutoff_seg = (now_ms - meta.options.ttl_ms) // meta.options.segment_duration_ms
        dropped = 0
        for seg, src in self._segment_dirs():
            seg_val = int(seg.split("=", 1)[1])
            # a segment is expired only when its whole range is expired
            if seg_val + 1 <= cutoff_seg:
                fsops.delete(self.spark, src)
                dropped += 1
        return dropped
