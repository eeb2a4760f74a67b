"""Storage backends behind one interface, Spark-native.

The reference defines an ABC with CSVStorage/MemoryStorage plus a
temp-store swap protocol for rewrites (reference tinyflux/storages.py:
56-167, 170-433, 436-558, swap at 383-400). Here the same roles are:

* :class:`MemoryStorage` — driver-side list of Points exposed as a
  DataFrame (the ``createDataFrame`` path). For tests and small batches.
* :class:`ParquetStorage` — the real engine store: a parquet dataset
  partitioned by ``measurement`` (→ partition pruning replaces the
  reference's measurement inverted index, reference index.py:673-692),
  carrying a durable ``_seq`` ingestion-order column (replaces storage
  row position). Rewrites go to a staging directory then swap —
  the transactional analog of the reference's temp-file protocol — and
  can be scoped to a subset of measurement partitions so a 100 TB
  update/delete only rewrites the partitions its predicate touches.
* :class:`CSVStorage` — compatibility reader/writer for the reference's
  CSV row format (reference point.py:307-367) so files produced by the
  reference load here unchanged.

No in-memory index is built: Parquet column statistics + partition
pruning + Catalyst pushdown do the pruning the reference's Index does
(SURVEY.md §4).

Filesystem scope — deliberate, not an oversight: this module's MVCC
metadata (lock file, ``_tinyflux_meta.json``, version-dir snapshots)
uses driver-local POSIX primitives (``fcntl``, ``os.replace``,
hardlink-or-copy) because the DB surface it implements IS the
reference's embedded single-process store — its contention tests and
crash semantics depend on POSIX locking, and a TinyFlux database is a
local artifact by contract (reference design-principles.rst). The
100 TB-scale artifacts that DO live on cluster storage — persisted
ANN indexes and streaming state — route all metadata through the
Hadoop FS layer instead (:mod:`tinyflux_spark.fsio`): any scheme,
creation-gated commit markers, no atomic-rename dependency.
"""

from __future__ import annotations

import csv
import json
import os
import re
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Iterable, List, Optional, Sequence

try:  # POSIX file locking; absent on non-POSIX platforms, where the
    # store falls back to the reference's single-process semantics
    # (reference docs/source/design-principles.rst — TinyFlux is
    # explicitly a single-process embedded store).
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None  # type: ignore[assignment]

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from .point import Point
from .schema import POINT_SCHEMA_SEQ, SEQ_COL, points_to_arrow, points_to_df

#: Partition column: UTC calendar date of ``time``. Directory-level
#: time-range pruning — the scale replacement for the reference's
#: sorted-timestamp bisect index (reference index.py:719-821).
PDATE_COL = "pdate"


def utc_date_str(t: datetime) -> str:
    """The ``pdate`` of a timestamp: its UTC calendar date as
    ``yyyy-MM-dd``, zero-padded like Spark's ``date_format``. A naive
    ``t`` is taken as UTC."""
    if t.tzinfo is not None:
        t = t.astimezone(timezone.utc)
    return t.date().isoformat()


#: On-disk schema: canonical + _seq + the date partition column.
POINT_SCHEMA_PARTS = T.StructType(
    POINT_SCHEMA_SEQ.fields
    + [T.StructField(PDATE_COL, T.StringType(), True)]
)

#: Characters Spark percent-encodes in partition directory names
#: (ExternalCatalogUtils.escapePathName): ASCII control chars, DEL, and
#: the hive-special punctuation set. Directory-level partition ops
#: (scoped overwrite, drop_partition) must agree with what Spark wrote
#: or a measurement named e.g. "a:b" would be "dropped" without its
#: directory ever being touched.
_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f') | frozenset(
    chr(i) for i in range(0x20)
)

#: Directory value Spark writes for a null or empty partition value
#: (ExternalCatalogUtils.DEFAULT_PARTITION_NAME); it reads back as NULL.
#: A bare ``measurement=`` directory would fail partition discovery.
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def escape_partition_value(v: str) -> str:
    """Mirror Spark's hive partition-path escaping (percent-encoding;
    ``""`` becomes the default partition)."""
    if not v:
        return _DEFAULT_PARTITION
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE_CHARS else c for c in v
    )


def unescape_partition_value(s: str) -> str:
    """Inverse of :func:`escape_partition_value` (tolerates bare '%')."""
    if s == _DEFAULT_PARTITION:
        return ""
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "%" and i + 2 < len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def _vdir(version: int) -> str:
    """Directory name of a data version (``data_v000003``)."""
    return f"data_v{version:06d}"


#: Keys eligible for scalar-column materialization: must be safe as a
#: parquet column name fragment (no escaping games in the footer schema).
_INDEXABLE_KEY = re.compile(r"^[A-Za-z0-9_]+$")


def indexed_tag_col(key: str) -> str:
    """Materialized-column name for a tag key."""
    return f"_tag_{key}"


def indexed_field_col(key: str) -> str:
    """Materialized-column name for a field key."""
    return f"_field_{key}"


class Storage:
    """Interface: read/append/overwrite in the canonical schema + _seq."""

    #: {("tags"|"fields", key) -> scalar column name} for storages that
    #: materialize map entries into pushdown-eligible parquet columns.
    #: Empty for storages with no scan-level stats (memory, CSV).
    @property
    def index_cols(self) -> dict:
        return {}

    #: Whether ``overwrite(df, measurements=[...])`` can swap a subset of
    #: measurement partitions. Drives DML rewrite scoping in the DB layer.
    supports_partition_swap = False

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def read(self) -> DataFrame:
        raise NotImplementedError

    def append_points(
        self, points: List[Point], compact_key_prefixes: bool = False
    ) -> None:
        """Append Points. ``compact_key_prefixes`` selects the short
        ``t_``/``f_`` key prefixes in serialized formats (the CSV codec,
        reference point.py:106-107); schema-carrying storages ignore it.
        """
        raise NotImplementedError

    def append_df(self, df: DataFrame) -> None:
        """Append a DataFrame already in canonical (seq-less) schema."""
        raise NotImplementedError

    def overwrite(
        self,
        df: DataFrame,
        measurements: Optional[List[str]] = None,
        date_range: Optional[tuple] = None,
        nrows: Optional[int] = None,
    ) -> None:
        """Replace contents with ``df`` (internal schema, keeps _seq).

        ``nrows``, when the caller already knows the rewrite row count,
        sizes the write-stage task count (see ``_write_task_count``) —
        purely a physical hint, never semantic.

        ``measurements`` / ``date_range=(lo, hi)`` (inclusive
        ``yyyy-MM-dd`` strings, either end None for unbounded) scope the
        rewrite: only partitions inside the scope (conjunction of both)
        are replaced, and ``df`` must hold exactly the surviving rows
        FOR that scope. At 100 TB this is the difference between a
        DELETE touching one day's directory and rewriting the world.
        """
        raise NotImplementedError

    def next_seq(self) -> int:
        raise NotImplementedError

    def close(self) -> None:
        pass


class MemoryStorage(Storage):
    """Driver-side point list; DataFrame view built on demand."""

    def __init__(self, spark: SparkSession) -> None:
        super().__init__(spark)
        self._points: List[tuple] = []  # (Point, seq)
        self._next = 0

    def read(self) -> DataFrame:
        import pyarrow as pa

        table = points_to_arrow(p for p, _ in self._points).append_column(
            SEQ_COL, pa.array([s for _, s in self._points], pa.int64())
        )
        return self.spark.createDataFrame(table, POINT_SCHEMA_SEQ)

    def append_points(
        self, points: List[Point], compact_key_prefixes: bool = False
    ) -> None:
        for p in points:
            self._points.append((p, self._next))
            self._next += 1

    def append_df(self, df: DataFrame) -> None:
        rows = df.select("time", "measurement", "tags", "fields").collect()
        self.append_points([Point.from_row(r) for r in rows])

    def overwrite(
        self,
        df: DataFrame,
        measurements: Optional[List[str]] = None,
        date_range: Optional[tuple] = None,
        nrows: Optional[int] = None,
    ) -> None:
        rows = df.orderBy(SEQ_COL).collect()
        kept = [(Point.from_row(r), r[SEQ_COL]) for r in rows]
        if measurements is None and date_range is None:
            self._points = kept
        else:
            ms = set(measurements) if measurements is not None else None

            def _in_scope(p: Point) -> bool:
                if ms is not None and p.measurement not in ms:
                    return False
                if date_range is not None:
                    d = utc_date_str(p.time)
                    lo, hi = date_range
                    if lo is not None and d < lo:
                        return False
                    if hi is not None and d > hi:
                        return False
                return True

            others = [(p, s) for p, s in self._points if not _in_scope(p)]
            self._points = sorted(others + kept, key=lambda t: t[1])
        if self._points:
            self._next = max(s for _, s in self._points) + 1

    def next_seq(self) -> int:
        return self._next


class ParquetStorage(Storage):
    """Measurement-partitioned parquet dataset with a manifest.

    Layout::

        <path>/
          _tinyflux_meta.json        # {"next_seq": N}
          data/measurement=<m>/*.parquet

    The manifest carries the ingestion high-water mark so appends don't
    scan to find max(_seq) (``monotonically_increasing_id`` is not
    stable across batches — SURVEY.md §4).
    """

    supports_partition_swap = True

    def __init__(
        self,
        path: str,
        spark: SparkSession,
        index_tags: Optional[Sequence[str]] = None,
        index_fields: Optional[Sequence[str]] = None,
        keep_versions: int = 2,
    ) -> None:
        """``index_tags`` / ``index_fields`` name map keys to ALSO store
        as scalar parquet columns (``_tag_<k>`` / ``_field_<k>``) derived
        from the maps at every write. Scalar columns get row-group
        min/max stats and dictionary pages, so equality/range predicates
        on them reach ``PushedFilters`` — the Spark-shaped replacement
        for the reference's inverted tag index (reference
        index.py:694-717); MapType predicates never push. The choice is
        durable: it is recorded in the manifest on creation and replayed
        from there on reopen (a changed constructor argument on an
        existing store is an error — reindexing is a rewrite, not a
        flag flip).
        """
        super().__init__(spark)
        self.path = path
        self.meta_path = os.path.join(path, "_tinyflux_meta.json")
        self.lock_path = os.path.join(path, "_tinyflux.lock")
        # How many version dirs survive GC (current + history). 2 is
        # the snapshot-isolation minimum; more buys time-travel depth
        # at the cost of retained hardlink dirs. Operational, per
        # handle: the handle performing destructive ops governs GC.
        self.keep_versions = max(2, int(keep_versions))
        os.makedirs(path, exist_ok=True)
        want = {
            "index_tags": sorted(set(index_tags or ())),
            "index_fields": sorted(set(index_fields or ())),
        }
        for kind, keys in want.items():
            bad = [k for k in keys if not _INDEXABLE_KEY.match(k)]
            if bad:
                raise ValueError(
                    f"{kind} keys must match [A-Za-z0-9_]+: {bad}"
                )
        with self._locked():
            # check-then-create under the lock: two handles racing to
            # initialize one path must agree on a single manifest.
            if not os.path.exists(self.meta_path):
                self._write_meta({"next_seq": 0, "data_version": 0, **want})
            else:
                meta = self._read_meta()
                if "data_version" not in meta:
                    # migrate a pre-versioning store: its live "data"
                    # dir becomes version 0.
                    legacy = os.path.join(path, "data")
                    if os.path.isdir(legacy):
                        os.replace(legacy, os.path.join(path, _vdir(0)))
                    meta["data_version"] = 0
                    self._write_meta(meta)
            os.makedirs(self.data_dir, exist_ok=True)
        meta = self._read_meta()
        if "index_tags" not in meta and "index_fields" not in meta:
            # pre-index-era manifest: the store's durable config is "no
            # index columns". Accepting a requested config here would
            # declare _tag_*/_field_* columns the legacy parquet lacks —
            # every indexed predicate would silently match nothing.
            if index_tags is not None or index_fields is not None:
                raise ValueError(
                    f"store at {path} predates index columns; "
                    "reindexing requires a rewrite"
                )
            have = {"index_tags": [], "index_fields": []}
        else:
            have = {
                "index_tags": meta.get("index_tags", []),
                "index_fields": meta.get("index_fields", []),
            }
            if (index_tags is not None or index_fields is not None) and (
                want != have
            ):
                raise ValueError(
                    f"store at {path} was created with {have}; "
                    f"got {want} — reindexing requires a rewrite"
                )
        self._index_tags = list(have["index_tags"])
        self._index_fields = list(have["index_fields"])

    @property
    def index_cols(self) -> dict:
        out = {}
        for k in self._index_tags:
            out[("tags", k)] = indexed_tag_col(k)
        for k in self._index_fields:
            out[("fields", k)] = indexed_field_col(k)
        return out

    def _derive_index_cols(self, df: DataFrame) -> DataFrame:
        """(Re-)derive every materialized scalar column from the maps —
        called on each write path so DML that mutates a map can never
        leave a stale scalar behind."""
        for k in self._index_tags:
            df = df.withColumn(
                indexed_tag_col(k), F.element_at(F.col("tags"), k)
            )
        for k in self._index_fields:
            df = df.withColumn(
                indexed_field_col(k), F.element_at(F.col("fields"), k)
            )
        return df

    # -- versioned data layout (snapshot isolation) -----------------------
    # Destructive operations (DML rewrite, compact, truncate, partition
    # drop) never mutate the live directory. Each builds the NEXT
    # version dir — a hardlink clone of the current one with the
    # in-scope partitions replaced (hardlinks: parquet files are
    # immutable here, so a clone is metadata-only) — then flips the
    # manifest's ``data_version`` pointer under the store lock. Readers
    # resolve the pointer when they plan, so an in-flight scan keeps a
    # consistent snapshot: its version dir survives one further
    # destructive op (GC keeps current + previous). Appends are additive
    # (new files only) and publish under the same lock, so they land in
    # whatever version is current at publish time and are never lost to
    # a concurrent rewrite. This is the MVCC pointer-flip pattern of
    # table formats like Delta/Iceberg, at directory granularity.

    def _data_version(self) -> int:
        return int(self._read_meta().get("data_version", 0))

    @property
    def data_dir(self) -> str:
        """The CURRENT version's data directory (manifest-resolved)."""
        return os.path.join(self.path, _vdir(self._data_version()))

    def _clone_version(self) -> str:
        """Hardlink-clone the live version into the next version dir
        (uncommitted). Caller holds the store lock."""
        cur = self.data_dir
        nxt = os.path.join(self.path, _vdir(self._data_version() + 1))
        if os.path.exists(nxt):
            shutil.rmtree(nxt)
        for root, _dirs, files in os.walk(cur):
            rel = os.path.relpath(root, cur)
            dst = nxt if rel == "." else os.path.join(nxt, rel)
            os.makedirs(dst, exist_ok=True)
            for f in files:
                s, d = os.path.join(root, f), os.path.join(dst, f)
                try:
                    os.link(s, d)
                except OSError:  # pragma: no cover — fs without links
                    shutil.copy2(s, d)
        return nxt

    def _commit_version(self, new_dir: str) -> None:
        """Flip the manifest pointer to ``new_dir`` and GC every version
        older than the immediately previous one. Caller holds the lock."""
        v = int(os.path.basename(new_dir)[len("data_v"):])
        meta = self._read_meta()
        meta["data_version"] = v
        self._write_meta(meta)
        for name in os.listdir(self.path):
            if not name.startswith("data_v"):
                continue
            try:
                mv = int(name[len("data_v"):])
            except ValueError:
                continue
            if mv <= v - self.keep_versions:
                shutil.rmtree(
                    os.path.join(self.path, name), ignore_errors=True
                )

    def _parquet_relpaths(self, ddir: str) -> set:
        """Relative paths of every parquet data file under ``ddir``."""
        out = set()
        if not os.path.isdir(ddir):
            return out
        for root, _dirs, files in os.walk(ddir):
            rel = os.path.relpath(root, ddir)
            for f in files:
                if f.endswith(".parquet"):
                    out.add(os.path.normpath(os.path.join(rel, f)))
        return out

    # -- manifest ---------------------------------------------------------
    @contextmanager
    def _locked(self):
        """Exclusive inter-process lock (``flock`` on
        ``path/_tinyflux.lock``) serializing the manifest
        read-modify-write and the partition-swap critical section
        across handles — two ``TinyFluxSpark`` handles (or processes)
        on one store path mint disjoint ``_seq`` ranges and can't
        interleave a swap. The reference is explicitly single-process
        (docs/source/design-principles.rst) so it needs no lock; a
        Spark-native store invites multi-writer use. Uses a dedicated
        lock file (not the manifest itself) so ``os.replace`` of the
        manifest never invalidates a held lock fd."""
        if fcntl is None:  # pragma: no cover — non-POSIX fallback
            yield
            return
        # 'a' not 'w': opening must not truncate while another handle
        # holds the lock.
        with open(self.lock_path, "a") as lf:
            fcntl.flock(lf.fileno(), fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf.fileno(), fcntl.LOCK_UN)

    def _read_meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self.meta_path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.meta_path)

    def next_seq(self) -> int:
        return self._read_meta()["next_seq"]

    def _bump_seq(self, n: int) -> int:
        with self._locked():
            meta = self._read_meta()
            start = meta["next_seq"]
            meta["next_seq"] = start + n
            self._write_meta(meta)
            return start

    def _is_empty(self) -> bool:
        return self._dir_is_empty(self.data_dir)

    @staticmethod
    def _dir_is_empty(ddir: str) -> bool:
        for _root, _dirs, files in os.walk(ddir):
            if any(f.endswith(".parquet") for f in files):
                return False
        return True

    # -- IO ---------------------------------------------------------------
    def _read_schema(self):
        extra = [
            T.StructField(c, T.StringType() if a == "tags"
                          else T.DoubleType(), True)
            for (a, _k), c in sorted(self.index_cols.items(),
                                     key=lambda kv: kv[1])
        ]
        return T.StructType(POINT_SCHEMA_PARTS.fields + extra)

    def list_versions(self) -> List[int]:
        """Version numbers still on disk, oldest first. The newest is
        the live version; older ones are time-travel snapshots retained
        per ``keep_versions``."""
        out = []
        for name in os.listdir(self.path):
            if name.startswith("data_v"):
                try:
                    out.append(int(name[len("data_v"):]))
                except ValueError:
                    continue
        return sorted(out)

    def read(self, version: Optional[int] = None) -> DataFrame:
        """Canonical columns + ``_seq`` + the ``pdate`` partition column
        (the DB layer injects pdate range conjuncts derived from time
        predicates, then drops the column) + any materialized ``_tag_*``
        / ``_field_*`` scalar columns (the DB layer compiles eligible
        predicates against these, then drops them from results).

        ``version`` time-travels to a retained snapshot (see
        ``list_versions``); default is the live version."""
        schema = self._read_schema()
        if version is None:
            ddir = self.data_dir
        else:
            ddir = os.path.join(self.path, _vdir(int(version)))
            if not os.path.isdir(ddir):
                raise ValueError(
                    f"version {version} not on disk; available: "
                    f"{self.list_versions()} (raise keep_versions to "
                    f"retain more history)"
                )
        if self._dir_is_empty(ddir):
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(ddir)
        # A "" measurement lives in the default partition, which Spark
        # reads back as NULL; measurements are never NULL, so map it
        # back. The expression only references the partition column, so
        # measurement predicates still prune directories.
        return df.select(
            "time",
            F.coalesce(F.col("measurement"), F.lit("")).alias("measurement"),
            "tags", "fields", SEQ_COL, PDATE_COL,
            *sorted(self.index_cols.values()),
        )

    def append_points(
        self, points: List[Point], compact_key_prefixes: bool = False
    ) -> None:
        """Append a batch of Points, written on the driver with pyarrow.

        The Points are already in this process, so no Spark job runs:
        ``_seq`` is reserved, the batch becomes one Arrow table
        (``points_to_arrow`` plus the ``_tag_<k>`` / ``_field_<k>``
        columns looked up in its maps), and each ``(measurement,
        pdate)`` group is written as one parquet file into a private
        stage directory, then published like ``append_df``'s files.
        ``pdate`` is the UTC date. The files match Spark's own output
        here: INT96 ``time`` and no ``ARROW:schema`` footer (which
        would add about 30% to a flushed point's bytes), and a ``""``
        measurement goes to the default partition as Spark names it.
        A failure before the publish leaves the store unchanged (the
        reserved ``_seq`` range stays unused).
        """
        if not points:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        start = self._bump_seq(len(points))
        table = points_to_arrow(points, seq_start=start)
        for (attr, key), col in self.index_cols.items():
            table = table.append_column(
                col, pc.map_lookup(table.column(attr), pa.scalar(key), "first")
            )
        table = table.drop_columns(["measurement"])
        groups: dict = {}
        for i, p in enumerate(points):
            groups.setdefault(
                (p.measurement, utc_date_str(p.time)), []
            ).append(i)
        stage = os.path.join(self.path, f"_append_{uuid.uuid4().hex[:8]}")
        try:
            for (m, d), rows in groups.items():
                part = os.path.join(
                    stage,
                    f"measurement={escape_partition_value(m)}",
                    f"{PDATE_COL}={d}",
                )
                os.makedirs(part)
                pq.write_table(
                    table.take(rows),
                    os.path.join(part, f"part-{uuid.uuid4().hex}.parquet"),
                    store_schema=False,
                    use_deprecated_int96_timestamps=True,
                )
            self._publish(stage)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def append_df(self, df: DataFrame) -> None:
        # Durable batch-scoped _seq WITHOUT a global sort or shuffle:
        # monotonically_increasing_id is partition-major monotonic (not
        # dense — the order contract only needs monotonic+unique), so
        # _seq = batch_start + mid. Two passes run over the source —
        # a stats pass (max id + count; column-pruned to ZERO data
        # columns, so on parquet it reads footers, not rows) and the
        # write pass. No cache in between: caching a bulk-load batch
        # is exactly wrong at scale (a 1 TB batch would evict the
        # working set to pin rows only read once more). The id is
        # deterministic for any deterministic source plan, so both
        # passes agree; for a NON-deterministic source the write pass
        # could mint ids above the reserved block and collide with the
        # next batch — the assert below turns that silent corruption
        # into a loud failure (fix: .cache() the frame before insert).
        src = df.select("time", "measurement", "tags", "fields").withColumn(
            "_mid", F.monotonically_increasing_id()
        )
        row = src.agg(
            F.max("_mid").alias("mx"), F.count("*").alias("n")
        ).collect()[0]
        if not row["n"]:
            return
        mx = int(row["mx"])
        start = self._bump_seq(mx + 1)
        guard = F.coalesce(
            F.assert_true(
                F.col("_mid") <= F.lit(mx),
                F.lit(
                    "non-deterministic source re-evaluated with more "
                    "partitions between seq reservation and write; "
                    "cache() the frame before inserting"
                ),
            ).cast("long"),
            F.lit(0),
        )
        out = src.withColumn(
            SEQ_COL,
            (F.col("_mid") + F.lit(start) + guard).cast("long"),
        ).drop("_mid")
        self._write_append(out, nrows=int(row["n"]))

    # Target rows per write task. The dominant batch-write cost is
    # per-task dynamic-partition writer machinery (partition sort +
    # one open/close per directory the task holds), not bytes: on a
    # 100k-row load, 32 tasks ran at 66k rows/s while 12 ran at 141k.
    # Small batches therefore get few tasks; once ceil(n / target)
    # passes spark.sql.shuffle.partitions the cluster default caps it,
    # so a 100 TB load still fans out to full cluster width. File
    # count is unaffected either way: rows hash by (measurement,
    # pdate), so each directory's rows sit in exactly one task and a
    # batch emits one file per touched directory.
    _ROWS_PER_WRITE_TASK = 8192

    def _write_task_count(self, nrows: Optional[int]) -> Optional[int]:
        if nrows is None or nrows <= 0:
            return None
        cap = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        return max(1, min(cap, -(-nrows // self._ROWS_PER_WRITE_TASK)))

    def _write_append(
        self, df_seq: DataFrame, nrows: Optional[int] = None
    ) -> None:
        out = self._derive_index_cols(
            df_seq.select("time", "measurement", "tags", "fields", SEQ_COL)
        ).withColumn(PDATE_COL, F.date_format("time", "yyyy-MM-dd"))
        # Cluster rows by their target partition before the write:
        # without this, EVERY input task opens a writer for EVERY
        # (measurement, pdate) directory it touches — a bulk load from a
        # handful of input partitions serializes into one task writing
        # hundreds of tiny files. One shuffle turns that into parallel
        # tasks each writing whole directories (measured 3x on a
        # 100k-row load), and caps file count at one per partition dir
        # per batch — the compaction-friendly layout. _seq is stamped
        # before the shuffle, so row identity/order metadata is
        # unaffected by placement.
        npart = self._write_task_count(nrows)
        if npart is not None:
            out = out.repartition(npart, F.col("measurement"), F.col(PDATE_COL))
        else:
            out = out.repartition(F.col("measurement"), F.col(PDATE_COL))
        stage = os.path.join(self.path, f"_append_{uuid.uuid4().hex[:8]}")
        try:
            (
                out.write.mode("overwrite")
                .partitionBy("measurement", PDATE_COL)
                .parquet(stage)
            )
            self._publish(stage)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _publish(self, stage: str) -> None:
        """Move every parquet file of an append's private ``stage``
        directory into the live version, under the store lock.

        Stage-then-move: each append writes into its own directory,
        then the part files (globally-unique names) move into place.
        Writing straight into data_dir would make concurrent Spark
        appends share one ``_temporary/0`` committer dir — one job's
        cleanup deletes the other's in-flight task files — and a
        concurrent staged swap could rmtree a directory mid-commit.
        This is the same private-attempt-then-publish protocol cloud
        committers use. The caller removes ``stage`` afterwards.
        """
        touched = set()
        with self._locked():
            # Resolve the live version once: destructive commits also
            # hold the lock, so it cannot flip mid-publish, and the
            # property re-reads the manifest per access.
            ddir = self.data_dir
            for root, _dirs, files in os.walk(stage):
                rel = os.path.relpath(root, stage)
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    dst_dir = ddir if rel == "." else os.path.join(ddir, rel)
                    os.makedirs(dst_dir, exist_ok=True)
                    os.replace(
                        os.path.join(root, f), os.path.join(dst_dir, f)
                    )
                    parts = rel.split(os.sep)
                    if len(parts) >= 2 and parts[0].startswith(
                        "measurement="
                    ) and parts[1].startswith(f"{PDATE_COL}="):
                        touched.add((
                            unescape_partition_value(
                                parts[0].split("=", 1)[1]
                            ),
                            parts[1].split("=", 1)[1],
                        ))
        # Which (measurement, pdate) partitions the last append
        # published into — lets incremental maintenance (streaming
        # auto-compaction) scope itself to fresh partitions for free,
        # no extra Spark job.
        self.last_touched = touched

    def overwrite(
        self,
        df: DataFrame,
        measurements: Optional[List[str]] = None,
        date_range: Optional[tuple] = None,
        nrows: Optional[int] = None,
        known_files: Optional[set] = None,
    ) -> None:
        """Staged write + swap (the reference's temp-store protocol,
        storages.py:383-400, made transactional per partition).

        Scoped rewrites delete the in-scope partition directories, then
        move the staged replacements in — out-of-scope partitions are
        never read, rewritten, or touched.

        Concurrency: appends that publish while the (long, unlocked)
        staged write runs are PRESERVED — files present at commit that
        were absent from ``known_files`` (default: snapshot taken here,
        before the staged write) hardlink into the new version, which is
        the rewrite-then-append linearization of the two concurrent
        ops. A rewrite that lands between the caller building ``df``
        and this call entering is the one remaining (millisecond)
        window. A concurrent DESTRUCTIVE op committing mid-rewrite is
        detected by the version pointer and raises rather than
        silently clobbering either side's work.
        """
        entry_version = self._data_version()
        if known_files is None:
            known_files = self._parquet_relpaths(self.data_dir)
        stage = os.path.join(self.path, f"_stage_{uuid.uuid4().hex[:8]}")
        (
            self._derive_index_cols(
                df.select("time", "measurement", "tags", "fields", SEQ_COL)
            )
            .withColumn(PDATE_COL, F.date_format("time", "yyyy-MM-dd"))
            # Same pre-write clustering as _write_append — a scoped DML
            # rewrite re-emits each partition as one file instead of
            # one-per-input-task, so repeated updates don't fragment —
            # with the same batch-size-aware task count.
            .repartition(
                *(
                    [self._write_task_count(nrows)]
                    if self._write_task_count(nrows) is not None
                    else []
                ),
                F.col("measurement"),
                F.col(PDATE_COL),
            )
            .write.mode("overwrite")
            .partitionBy("measurement", PDATE_COL)
            .parquet(stage)
        )
        # The staged write above runs unlocked (it touches only the
        # private stage dir, reading the then-current version snapshot);
        # the version build + pointer flip below is the critical section
        # another handle must not interleave with. The live directory is
        # never mutated: the next version is assembled beside it and the
        # manifest pointer flips atomically, so concurrent readers keep
        # a consistent snapshot.
        with self._locked():
            if self._data_version() != entry_version:
                shutil.rmtree(stage, ignore_errors=True)
                raise RuntimeError(
                    "concurrent destructive operation committed while "
                    "this rewrite was staging; retry the operation "
                    "against the new state"
                )
            cur_dir = self.data_dir
            late = self._parquet_relpaths(cur_dir) - known_files

            def _preserve(rel_in_scope) -> None:
                for rel in late:
                    if not rel_in_scope(rel):
                        continue
                    src = os.path.join(cur_dir, rel)
                    dst = os.path.join(new_dir, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    try:
                        os.link(src, dst)
                    except OSError:  # pragma: no cover
                        shutil.copy2(src, dst)

            if measurements is None and date_range is None:
                new_dir = os.path.join(
                    self.path, _vdir(self._data_version() + 1)
                )
                if os.path.exists(new_dir):
                    shutil.rmtree(new_dir)
                os.replace(stage, new_dir)
                _preserve(lambda rel: True)
                self._commit_version(new_dir)
                return
            new_dir = self._clone_version()
            ms = set(measurements) if measurements is not None else None
            lo, hi = date_range if date_range is not None else (None, None)
            # 1. remove in-scope partition dirs from the clone (covers
            #    fully-deleted ones that have no staged replacement).
            for mdir in os.listdir(new_dir):
                if not mdir.startswith("measurement="):
                    continue
                m = unescape_partition_value(mdir.split("=", 1)[1])
                if ms is not None and m not in ms:
                    continue
                mpath = os.path.join(new_dir, mdir)
                if date_range is None:
                    shutil.rmtree(mpath)
                    continue
                for pdir in os.listdir(mpath):
                    if not pdir.startswith(f"{PDATE_COL}="):
                        continue
                    d = pdir.split("=", 1)[1]
                    if (lo is None or d >= lo) and (hi is None or d <= hi):
                        shutil.rmtree(os.path.join(mpath, pdir))
            # 2. move staged replacements into the clone.
            if os.path.exists(stage):
                for mdir in os.listdir(stage):
                    if not mdir.startswith("measurement="):
                        continue
                    src_m = os.path.join(stage, mdir)
                    dst_m = os.path.join(new_dir, mdir)
                    os.makedirs(dst_m, exist_ok=True)
                    for pdir in os.listdir(src_m):
                        if not pdir.startswith(f"{PDATE_COL}="):
                            continue
                        dst = os.path.join(dst_m, pdir)
                        if os.path.exists(dst):
                            shutil.rmtree(dst)
                        shutil.move(os.path.join(src_m, pdir), dst)
            ms_scope = ms
            lo_hi = (lo, hi)

            def _in_scope(rel: str) -> bool:
                parts = rel.split(os.sep)
                if len(parts) < 2 or not parts[0].startswith("measurement="):
                    return False
                m = unescape_partition_value(parts[0].split("=", 1)[1])
                if ms_scope is not None and m not in ms_scope:
                    return False
                if date_range is not None:
                    if len(parts) < 3 or not parts[1].startswith(
                        f"{PDATE_COL}="
                    ):
                        return False
                    d = parts[1].split("=", 1)[1]
                    dlo, dhi = lo_hi
                    if dlo is not None and d < dlo:
                        return False
                    if dhi is not None and d > dhi:
                        return False
                return True

            # Out-of-scope late appends are already in the clone (it
            # was taken under the lock, after they published); in-scope
            # ones were just rmtree'd with their partition dirs — link
            # them back in.
            _preserve(_in_scope)
            self._commit_version(new_dir)
            shutil.rmtree(stage, ignore_errors=True)

    def parquet_file_count(self, measurement: Optional[str] = None) -> int:
        """Number of data files (scoped to one measurement if given) —
        the fragmentation metric ``compact`` reduces."""
        root = self.data_dir
        if measurement is not None:
            root = os.path.join(
                root,
                f"measurement={escape_partition_value(measurement)}",
            )
            if not os.path.exists(root):
                return 0
        n = 0
        for _r, _d, files in os.walk(root):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def compact(
        self,
        measurement: Optional[str] = None,
        date_range: Optional[tuple] = None,
    ) -> int:
        """Rewrite fragmented partitions into one file per
        ``(measurement, pdate)`` directory via the staged-swap path.

        Every append is its own parquet file, so a high-frequency
        ingest (the reference's MQTT loop, or streaming foreachBatch
        micro-batches) fragments partitions into thousands of small
        files whose per-file open/footer cost eventually dominates
        scans. Rows, ``_seq`` and materialized index columns are
        preserved exactly; only file boundaries change. Returns the
        number of files eliminated.

        ``measurement`` / ``date_range=(lo, hi)`` scope the rewrite to
        just those partitions — incremental maintenance (compact only
        what recent ingest fragmented) instead of a full-store rewrite
        whose cost grows with total history.
        """
        before = self.parquet_file_count(measurement)
        df = self.read()
        scope = None
        if measurement is not None:
            df = df.where(F.col("measurement") == measurement)
            scope = [measurement]
        if date_range is not None:
            lo, hi = date_range
            if lo is not None:
                df = df.where(F.col(PDATE_COL) >= lo)
            if hi is not None:
                df = df.where(F.col(PDATE_COL) <= hi)
        # The pre-write clustering in overwrite() yields one file per
        # partition directory.
        self.overwrite(df, measurements=scope, date_range=date_range)
        return before - self.parquet_file_count(measurement)

    def truncate(self) -> None:
        with self._locked():
            v = self._data_version() + 1
            new_dir = os.path.join(self.path, _vdir(v))
            # A crash mid-clone can leave a partial uncommitted next
            # version on disk; a truncate that kept it would resurrect
            # those rows as the "empty" store.
            if os.path.exists(new_dir):
                shutil.rmtree(new_dir)
            os.makedirs(new_dir, exist_ok=True)
            # Preserve the durable index configuration — truncate drops
            # rows, not the store's shape. Writing data_version with the
            # same meta write makes the empty version live atomically.
            self._write_meta({
                "next_seq": 0,
                "data_version": v,
                "index_tags": self._index_tags,
                "index_fields": self._index_fields,
            })
            self._commit_version(os.path.join(self.path, _vdir(v)))

    def drop_partition(self, measurement: str) -> None:
        with self._locked():
            new_dir = self._clone_version()
            part = os.path.join(
                new_dir,
                f"measurement={escape_partition_value(measurement)}",
            )
            if os.path.exists(part):
                shutil.rmtree(part)
            self._commit_version(new_dir)


class CSVStorage(Storage):
    """Reference-CSV compatibility store (reference storages.py:170-433).

    Reads/writes the exact row layout the reference produces, so a
    database file created by the reference opens here. Append is a
    driver-side file append (this is an embedded log format); bulk
    analytic data should live in :class:`ParquetStorage`.
    """

    def __init__(self, path: str, spark: SparkSession) -> None:
        super().__init__(spark)
        self.path = path
        if not os.path.exists(path):
            open(path, "a").close()

    def _load_points(self) -> List[Point]:
        with open(self.path, newline="") as f:
            return [Point.from_csv_row(row) for row in csv.reader(f) if row]

    def read(self) -> DataFrame:
        return points_to_df(self.spark, self._load_points(), with_seq=True)

    def append_points(
        self, points: List[Point], compact_key_prefixes: bool = False
    ) -> None:
        with open(self.path, "a", newline="") as f:
            w = csv.writer(f)
            for p in points:
                w.writerow(p.to_csv_row(compact_key_prefixes))
            f.flush()
            os.fsync(f.fileno())

    def append_df(self, df: DataFrame) -> None:
        rows = df.select("time", "measurement", "tags", "fields").collect()
        self.append_points([Point.from_row(r) for r in rows])

    def overwrite(
        self,
        df: DataFrame,
        measurements: Optional[List[str]] = None,
        date_range: Optional[tuple] = None,
        nrows: Optional[int] = None,
    ) -> None:
        if measurements is not None or date_range is not None:
            raise ValueError(
                "CSVStorage does not support partition-scoped rewrite; "
                "pass the full dataset."
            )
        rows = df.orderBy(SEQ_COL).collect()
        pts = [Point.from_row(r) for r in rows]
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
        os.close(fd)
        with open(tmp, "w", newline="") as f:
            w = csv.writer(f)
            for p in pts:
                w.writerow(p.to_csv_row())
        os.replace(tmp, self.path)

    def next_seq(self) -> int:
        with open(self.path, newline="") as f:
            return sum(1 for row in csv.reader(f) if row)
