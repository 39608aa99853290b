"""JSON-backed table catalog with HoraeDB table options.

Replaces the reference's manifest + sys_catalog
(src/analytic_engine/src/manifest/details.rs, src/system_catalog/) with a
directory of JSON metadata files next to the table data:

    <root>/<schema>/<table>/_meta.json   — schema + options + seq counter
    <root>/<schema>/<table>/_files.json  — the versioned data-file list
    <root>/<schema>/<table>/data/        — time-partitioned parquet

The file list is the manifest (manifest/details.rs): a file is visible while
the newest version lists it; ``Catalog.publish`` is the one commit point.

Table options mirror src/analytic_engine/src/table_options.rs:387-427:
update_mode (APPEND|OVERWRITE), segment_duration (default 2h, :54), ttl
(default 7d, :60), enable_ttl, num_rows_per_row_group (default 8192, :62),
compression.  The three-level namespace collapses to schema.table (the
reference's fixed catalog level adds nothing on Spark).

Scale note (100 TB): this JSON catalog is DRIVER-LOCAL by design — it
holds kilobytes of metadata plus the per-table sequence counter and file
list, whose atomicity comes from the in-process lock + POSIX rename.  On
a real cluster the equivalent state lives in a metadata service (Hive
metastore / a small transactional DB), exactly as the reference keeps
its manifest in a meta store separate from SSTs on object storage
(src/analytic_engine/src/manifest/).  Object-store rename is NOT a safe
substitute for the sequence counter or the file list (no atomic
compare-and-swap), so porting this file to fsops would be cargo-cult
scale-readiness; the DATA path (table.py) is the part that must and does
run object-store clean."""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

from incubator_horaedb_spark.schema import TableSchema

DEFAULT_SEGMENT_DURATION_MS = 2 * 3600 * 1000  # table_options.rs:54
DEFAULT_TTL_MS = 7 * 24 * 3600 * 1000  # table_options.rs:60
DEFAULT_NUM_ROWS_PER_ROW_GROUP = 8192  # table_options.rs:62

# segment-duration sampling ladder (sampler.rs:42-51)
AVAILABLE_SEGMENT_DURATIONS_MS = [
    2 * 3600 * 1000,
    24 * 3600 * 1000,
    7 * 24 * 3600 * 1000,
    30 * 24 * 3600 * 1000,
    180 * 24 * 3600 * 1000,
    360 * 24 * 3600 * 1000,
]

_DURATION_RE = re.compile(r"^(\d+)(ms|s|m|h|d)$", re.I)
_DURATION_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}


def parse_duration_ms(s: str) -> int:
    m = _DURATION_RE.match(s.strip())
    if not m:
        raise ValueError(f"bad duration {s!r}")
    return int(m.group(1)) * _DURATION_MS[m.group(2).lower()]


def pick_segment_duration_ms(span_ms: int) -> int:
    """DefaultSampler (sampler.rs:116-254): smallest ladder duration such
    that the sampled write span fits in a bounded number of segments."""
    for d in AVAILABLE_SEGMENT_DURATIONS_MS:
        if span_ms <= d * 24:  # keep ≤ ~24 segments per ladder step
            return d
    return AVAILABLE_SEGMENT_DURATIONS_MS[-1]


@dataclass
class TableOptions:
    update_mode: str = "OVERWRITE"  # table_options.rs:157-161
    segment_duration_ms: int | None = None  # None → sampled on first write
    enable_ttl: bool = True
    ttl_ms: int = DEFAULT_TTL_MS
    num_rows_per_row_group: int = DEFAULT_NUM_ROWS_PER_ROW_GROUP
    compression: str = "ZSTD"
    partition_keys: list[str] = field(default_factory=list)  # PARTITION BY KEY
    num_partitions: int = 0
    # partition strategy (partition/rule/factory.rs:39): "key" | "random";
    # `linear` is the MySQL-compat LINEAR KEY flag (ast.rs:113-118) —
    # carried as declared metadata, no computational difference (the
    # reference's KeyRule ignores it too)
    partition_method: str = "key"
    partition_linear: bool = False
    # NDV-sampled SST sort key, set on first flush of APPEND tables
    # (PrimaryKeySampler, sampler.rs:271-362): low-cardinality columns
    # first, then tsid/timestamp — physical layout only, never the dedup key
    sampled_sort_key: list[str] | None = None
    extra: dict = field(default_factory=dict)

    @classmethod
    def from_with_options(cls, opts: dict[str, str]) -> "TableOptions":
        """Parse a WITH(...) option map (string-valued, like the reference)."""
        o = cls()
        o.apply_with_options(opts)
        return o

    def apply_with_options(self, opts: dict[str, str]) -> None:
        """Apply WITH-style options in place — also the ALTER TABLE ...
        MODIFY SETTING path (ast.rs AlterModifySetting), which updates only
        the named settings."""
        o = self
        for key, raw in opts.items():
            k = key.lower()
            v = raw.strip().strip("'\"")
            if k == "update_mode":
                if v.upper() not in ("APPEND", "OVERWRITE"):
                    raise ValueError(f"bad update_mode {v!r}")
                o.update_mode = v.upper()
            elif k == "segment_duration":
                o.segment_duration_ms = parse_duration_ms(v)
            elif k == "enable_ttl":
                o.enable_ttl = v.lower() == "true"
            elif k == "ttl":
                o.ttl_ms = parse_duration_ms(v)
            elif k == "num_rows_per_row_group":
                o.num_rows_per_row_group = int(v)
            elif k == "compression":
                o.compression = v.upper()
            else:
                o.extra[k] = v

    def to_dict(self) -> dict:
        return {
            "update_mode": self.update_mode,
            "segment_duration_ms": self.segment_duration_ms,
            "enable_ttl": self.enable_ttl,
            "ttl_ms": self.ttl_ms,
            "num_rows_per_row_group": self.num_rows_per_row_group,
            "compression": self.compression,
            "partition_keys": self.partition_keys,
            "num_partitions": self.num_partitions,
            "partition_method": self.partition_method,
            "partition_linear": self.partition_linear,
            "sampled_sort_key": self.sampled_sort_key,
            "extra": self.extra,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "TableOptions":
        return cls(**d)


@dataclass
class TableMeta:
    name: str
    schema: TableSchema
    options: TableOptions
    next_seq: int = 1
    created_at_ms: int = 0  # system.public.tables `timestamp` column

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "schema": self.schema.to_dict(),
            "options": self.options.to_dict(),
            "next_seq": self.next_seq,
            "created_at_ms": self.created_at_ms,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "TableMeta":
        return cls(
            name=d["name"],
            schema=TableSchema.from_dict(d["schema"]),
            options=TableOptions.from_dict(d["options"]),
            next_seq=d.get("next_seq", 1),
            created_at_ms=d.get("created_at_ms", 0),
        )


class Catalog:
    """Filesystem catalog: schema → table → (meta, data dir)."""

    def __init__(self, root: str, schema: str = "public"):
        self.root = root
        self.schema = schema
        self._lock = threading.Lock()
        os.makedirs(self._schema_dir(), exist_ok=True)

    def _schema_dir(self) -> str:
        return os.path.join(self.root, self.schema)

    def table_dir(self, name: str) -> str:
        return os.path.join(self._schema_dir(), name)

    def data_dir(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "data")

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_meta.json")

    def _files_path(self, name: str) -> str:
        return os.path.join(self.table_dir(name), "_files.json")

    def exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    def create_table(
        self, name: str, schema: TableSchema, options: TableOptions | None = None,
        if_not_exists: bool = False,
    ) -> TableMeta:
        with self._lock:
            if self.exists(name):
                if if_not_exists:
                    return self.get(name)
                raise ValueError(f"table {name!r} already exists")
            meta = TableMeta(
                name=name,
                schema=schema,
                options=options or TableOptions(),
                created_at_ms=int(time.time() * 1000),
            )
            os.makedirs(self.data_dir(name), exist_ok=True)
            self._write_json(self._files_path(name), {"version": 0, "files": {}})
            self._write_meta(meta)
            return meta

    def drop_table(self, name: str, if_exists: bool = False) -> bool:
        with self._lock:
            if not self.exists(name):
                if if_exists:
                    return False
                raise ValueError(f"no such table {name!r}")
            shutil.rmtree(self.table_dir(name))
            return True

    def get(self, name: str) -> TableMeta:
        with open(self._meta_path(name)) as f:
            return TableMeta.from_dict(json.load(f))

    def list_tables(self) -> list[str]:
        if not os.path.isdir(self._schema_dir()):
            return []
        return sorted(
            d for d in os.listdir(self._schema_dir()) if self.exists(d)
        )

    def update(self, name: str, change: Callable[[TableMeta], None]) -> TableMeta:
        """Read ``name``'s meta, apply ``change`` to it in place and write it
        back, all under the catalog lock; returns the written meta.

        Every read-modify-write of ``_meta.json`` goes through here, so two
        concurrent changes (an auto-evolve and a sequence allocation, say)
        both land instead of one writing back the other's stale read.  If
        ``change`` raises, nothing is written."""
        with self._lock:
            meta = self.get(name)
            change(meta)
            self._write_meta(meta)
            return meta

    def allocate_seq(self, name: str) -> int:
        """Monotonic write sequence (the WAL SequenceNumber analogue) —
        totally ordered per table so Overwrite dedup is deterministic."""
        with self._lock:
            meta = self.get(name)
            seq = meta.next_seq
            meta.next_seq += 1
            self._write_meta(meta)
            return seq

    def files(self, name: str) -> tuple[int, dict[str, int]]:
        """``name``'s newest file list: its version number and
        ``[__partition=P/]__segment=S/<file>`` → bytes."""
        with open(self._files_path(name)) as f:
            cur = json.load(f)
            return cur["version"], cur["files"]

    def seed_files(self, name: str, files: dict[str, int]) -> None:
        """Give ``name``, written before file lists existed, its first one."""
        with self._lock:
            if not os.path.exists(self._files_path(name)):
                self._write_json(self._files_path(name), {"version": 0, "files": files})

    def publish(self, name: str, add: dict[str, int], drop: dict[str, int]) -> bool:
        """Write ``name``'s next file list: the current minus ``drop``, plus ``add``.
        False, writing nothing, if a concurrent commit replaced part of ``drop``."""
        with self._lock, open(self._files_path(name)) as f:
            cur = json.load(f)
            if not cur["files"].keys() >= drop.keys():
                return False
            files = {p: n for p, n in cur["files"].items() if p not in drop} | add
            self._write_json(f.name, {"version": cur["version"] + 1, "files": files})
            return True

    def _write_meta(self, meta: TableMeta) -> None:
        self._write_json(self._meta_path(meta.name), meta.to_dict())

    @staticmethod
    def _write_json(path: str, obj: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)
