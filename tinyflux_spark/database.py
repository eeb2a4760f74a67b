"""TinyFluxSpark — the database facade.

API parity with the reference ``TinyFlux`` class (reference
tinyflux/database.py): insert/search/get/select/count/contains, the six
``get_*`` introspection ops, query-addressed DML
(update/remove/drop_measurement), measurement handles, iteration and
context-manager protocol.

Design notes (SURVEY.md §3-§4):

* Each read op filters in one declarative DataFrame plan; Catalyst
  provides the pruning the reference's in-memory Index performs
  (time-range via parquet min/max stats, measurement via partition
  pruning, tags/fields via pushed-down predicates on the scan). No
  index object exists, so there is no invalidation/rebuild machinery
  to port (reference index.py is replaced wholesale).
* Calls that return their whole answer to Python (``search``,
  ``search_arrow``, ``all``, ``select``, ``get_field_values``,
  ``get_timestamps``, the key listings) order it on the driver: Spark
  filters (and, for key listings, deduplicates), then an Arrow or
  Python sort orders the collected rows by ``(time, _seq)``, ``_seq``
  or the key. A Spark ``orderBy`` would add a range-sort sampling job
  and a shuffle for rows bound for this one process anyway. The
  DataFrame surface (``search_df``, ``select_df``), ``get`` and
  iteration keep their Spark ordering.
* Insertion-order contracts (``get`` = first by storage order, reference
  database.py:349-377; ``sorted=False``; ``get_timestamps``) ride on the
  durable ``_seq`` column stamped at ingest.
* ``search(sorted=True)`` sorts by (time, _seq): Python's stable sort in
  the reference preserves insertion order among equal timestamps
  (reference database.py:824-827).
* DML is rewrite-then-swap like the reference's temp-storage protocol
  (reference storages.py:369-400) but *partition-scoped*: when the
  predicate pins measurements (conjunct ``MeasurementQuery == m``), only
  those partitions rewrite — the difference between touching 100 TB and
  touching one partition.

The List[Point] returning methods are driver-side conveniences for API
parity; the Spark-native surface (``.dataframe()``, ``search_df()``,
``select_df()``) returns DataFrames and is the path to use at scale.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Any, Callable, Dict, Iterable, Iterator, List, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .point import Point
from .queries import (
    EQ,
    GE,
    GT,
    LE,
    LT,
    CompoundQuery,
    MeasurementQuery,
    Query,
    SimpleQuery,
)
from .schema import SEQ_COL, get_spark
from .storages import (
    CSVStorage,
    MemoryStorage,
    ParquetStorage,
    PDATE_COL,
    Storage,
    utc_date_str,
)


def _as_query(q: Any) -> Query:
    if not isinstance(q, Query):
        raise RuntimeError("Query must be SimpleQuery or CompoundQuery.")
    return q


def _prunable_measurements(q: Query) -> Optional[List[str]]:
    """Extract measurement names pinned by the predicate, if any.

    Walks AND-conjunctions for ``measurement == <lit>`` leaves (and ORs
    of such). Returns None when the predicate doesn't pin measurements —
    the caller then rewrites the full dataset. This is the analog of the
    reference injecting a measurement conjunct before the index search
    (reference database.py:763-768), repurposed for partition pruning.
    """
    if isinstance(q, SimpleQuery):
        if q.attr == "measurement" and q.op == EQ and isinstance(q.rhs, str):
            return [q.rhs]
        return None
    if isinstance(q, CompoundQuery):
        if q.op == "and":
            a = _prunable_measurements(q.q1)
            b = _prunable_measurements(q.q2)
            if a is not None and b is not None:
                common = [m for m in a if m in b]
                return common if common else []
            return a if a is not None else b
        if q.op == "or":
            a = _prunable_measurements(q.q1)
            b = _prunable_measurements(q.q2)
            if a is not None and b is not None:
                return sorted(set(a) | set(b))
            return None
    return None


def _prunable_time_bounds(q: Query):
    """(lo, hi) datetime bounds implied by the predicate, or Nones.

    Drives directory-level pruning on the ``pdate`` partition column —
    the scale analog of the reference's sorted-timestamp bisect
    (reference index.py:719-821, utils.py:61-148). Sound, not complete:
    a bound is returned only when EVERY row matching the predicate
    satisfies it (AND tightens, OR widens-or-gives-up, NOT gives up).
    """
    if isinstance(q, SimpleQuery):
        none = (None, None)
        if q.attr != "time" or q.path or q.func is not None:
            return none
        if not isinstance(q.rhs, datetime):
            return none
        # Strict bounds tighten by 1 microsecond (TimestampType
        # resolution), so e.g. `time < midnight` excludes that whole
        # date partition rather than conservatively including it.
        us = timedelta(microseconds=1)
        if q.op == GE:
            return (q.rhs, None)
        if q.op == GT:
            return (q.rhs + us, None)
        if q.op == LE:
            return (None, q.rhs)
        if q.op == LT:
            return (None, q.rhs - us)
        if q.op == EQ:
            return (q.rhs, q.rhs)
        return none
    if isinstance(q, CompoundQuery):
        if q.op == "and":
            lo1, hi1 = _prunable_time_bounds(q.q1)
            lo2, hi2 = _prunable_time_bounds(q.q2)
            lo = max((x for x in (lo1, lo2) if x is not None), default=None)
            hi = min((x for x in (hi1, hi2) if x is not None), default=None)
            return (lo, hi)
        if q.op == "or":
            lo1, hi1 = _prunable_time_bounds(q.q1)
            lo2, hi2 = _prunable_time_bounds(q.q2)
            lo = min(lo1, lo2) if lo1 is not None and lo2 is not None else None
            hi = max(hi1, hi2) if hi1 is not None and hi2 is not None else None
            return (lo, hi)
    return (None, None)


class TinyFluxSpark:
    """The main database class.

    Usage::

        db = TinyFluxSpark("/data/weather")            # parquet store
        db = TinyFluxSpark(storage=MemoryStorage)      # in-memory
        db = TinyFluxSpark("db.csv", storage=CSVStorage)  # reference files
    """

    def __init__(
        self,
        path: Optional[str] = None,
        storage: Union[type, Storage, None] = None,
        spark: Optional[SparkSession] = None,
        index_tags: Optional[Sequence[str]] = None,
        index_fields: Optional[Sequence[str]] = None,
        keep_versions: Optional[int] = None,
    ) -> None:
        """``index_tags`` / ``index_fields`` (parquet stores only):
        materialize those map keys as scalar columns so equality/range
        predicates on them push into the parquet scan — the engine's
        analog of the reference's tag index (reference index.py:694-717).
        Query results are identical either way; only the scan changes.
        """
        self.spark = spark or get_spark()
        wants_index = index_tags is not None or index_fields is not None
        if keep_versions is not None and (
            isinstance(storage, Storage)
            or storage is MemoryStorage
            or storage is CSVStorage
            or (storage is None and path is None)
        ):
            raise ValueError(
                "keep_versions applies to path-constructed parquet "
                "stores (the MVCC versioned layout)"
            )
        if isinstance(storage, Storage):
            if wants_index:
                raise ValueError(
                    "index_tags/index_fields apply to path-constructed "
                    "parquet stores; configure the Storage instance "
                    "directly instead"
                )
            self._storage = storage
        elif storage is MemoryStorage or (storage is None and path is None):
            if wants_index:
                raise ValueError(
                    "index_tags/index_fields require ParquetStorage "
                    "(memory/CSV stores have no scan-level statistics)"
                )
            self._storage = MemoryStorage(self.spark)
        elif storage is CSVStorage:
            assert path is not None
            if wants_index:
                raise ValueError(
                    "index_tags/index_fields require ParquetStorage "
                    "(memory/CSV stores have no scan-level statistics)"
                )
            self._storage = CSVStorage(path, self.spark)
        else:
            assert path is not None
            self._storage = ParquetStorage(
                path, self.spark,
                index_tags=index_tags, index_fields=index_fields,
                **(
                    {"keep_versions": keep_versions}
                    if keep_versions is not None
                    else {}
                ),
            )
        self._measurements: Dict[str, "Measurement"] = {}
        self._open = True

    # ------------------------------------------------------------------
    @property
    def storage(self) -> Storage:
        return self._storage

    def dataframe(
        self, with_seq: bool = False, version: Optional[int] = None
    ) -> DataFrame:
        """The canonical DataFrame over the store (Spark-native surface).

        ``version`` time-travels to a retained MVCC snapshot (parquet
        stores only; see ``versions()`` and ``keep_versions``)."""
        if version is None:
            df = self._storage.read()
        elif isinstance(self._storage, ParquetStorage):
            df = self._storage.read(version=version)
        else:
            raise ValueError(
                "version time-travel requires ParquetStorage"
            )
        df = df.drop(PDATE_COL, *self._storage.index_cols.values())
        return df if with_seq else df.drop(SEQ_COL)

    def versions(self) -> List[int]:
        """Retained MVCC snapshot versions, oldest first (parquet
        stores; empty for storages without a versioned layout)."""
        if isinstance(self._storage, ParquetStorage):
            return self._storage.list_versions()
        return []

    def diff(
        self, version_a: int, version_b: Optional[int] = None
    ) -> DataFrame:
        """Row-level change feed between two MVCC snapshots (the CDC
        view of the versioned layout): every point ``added``,
        ``removed``, or ``changed`` going from snapshot ``version_a``
        to ``version_b`` (default: the live state). Unchanged rows are
        absent, so downstream incremental consumers (index refresh,
        rollup invalidation, audit) process deltas, not the store.

        Identity is the durable ``_seq`` stamped at ingest — updates
        rewrite a row's payload but keep its ``_seq``, so a payload
        difference under the same ``_seq`` is a ``changed`` row, not a
        remove+add pair. Map payloads compare via sorted entry arrays
        (map equality is entry-order-blind, as the reference's dict
        equality is).

        Plan shape: one full-outer sort-merge join on the uniform
        bigint ``_seq`` — a single balanced shuffle per side; payloads
        for ``added``/``changed`` come from the new side, ``removed``
        from the old side.

        Returns ``op, seq, time, measurement, tags, fields``.
        """
        a = self.dataframe(with_seq=True, version=version_a)
        b = self.dataframe(with_seq=True, version=version_b)
        canon = lambda c: F.array_sort(F.map_entries(c))  # noqa: E731
        a2 = a.select(
            F.col(SEQ_COL).alias("_sa"),
            *[F.col(c).alias(f"{c}_a") for c in
              ("time", "measurement", "tags", "fields")],
        )
        b2 = b.select(
            F.col(SEQ_COL).alias("_sb"),
            *[F.col(c).alias(f"{c}_b") for c in
              ("time", "measurement", "tags", "fields")],
        )
        j = a2.join(b2, a2["_sa"] == b2["_sb"], "full_outer")
        same = (
            F.col("time_a").eqNullSafe(F.col("time_b"))
            & F.col("measurement_a").eqNullSafe(F.col("measurement_b"))
            & canon(F.col("tags_a")).eqNullSafe(canon(F.col("tags_b")))
            & canon(F.col("fields_a")).eqNullSafe(
                canon(F.col("fields_b"))
            )
        )
        op = (
            F.when(F.col("_sa").isNull(), F.lit("added"))
            .when(F.col("_sb").isNull(), F.lit("removed"))
            .when(~same, F.lit("changed"))
        )
        new_side = F.col("_sa").isNull() | F.col("_sb").isNotNull()
        pick = lambda c: F.when(  # noqa: E731
            new_side, F.col(f"{c}_b")
        ).otherwise(F.col(f"{c}_a"))
        return (
            j.select(op.alias("op"), "*")
            .where(F.col("op").isNotNull())
            .select(
                "op",
                F.coalesce(F.col("_sb"), F.col("_sa")).alias("seq"),
                *[pick(c).alias(c) for c in
                  ("time", "measurement", "tags", "fields")],
            )
        )

    def create_view(self, name: str = "points") -> str:
        """Register the live store as a Spark temp view ``name`` with
        the canonical schema (time, measurement, tags map, fields map)
        for ad-hoc ``spark.sql``. Re-registering after writes refreshes
        the view; ``sql()`` does that automatically."""
        self.dataframe().createOrReplaceTempView(name)
        return name

    def sql(self, query: str, view: str = "points") -> DataFrame:
        """Run a Spark SQL statement over the store.

        The store is (re-)registered as temp view ``view`` on every
        call, so the statement always sees current data — including
        writes made since the last call. Map columns query as
        ``tags['sensor']`` / ``fields['value']``; the full ANSI SQL /
        Catalyst surface (joins against other registered tables, window
        functions, CTEs) is available, which is the point: the
        reference's query algebra is a subset, SQL is the superset the
        Spark engine gets for free.
        """
        self.create_view(view)
        return self.spark.sql(query)

    def close(self) -> None:
        self._storage.close()
        self._open = False

    def __enter__(self) -> "TinyFluxSpark":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __len__(self) -> int:
        return self._storage.read().count()

    def __iter__(self) -> Iterator[Point]:
        it = (
            self._storage.read()
            .orderBy(SEQ_COL)
            .toLocalIterator()
        )
        return (Point.from_row(r) for r in it)

    def __repr__(self) -> str:
        return f"<TinyFluxSpark storage={type(self._storage).__name__}>"

    # -- write path -----------------------------------------------------
    def insert(
        self,
        point: Point,
        measurement: Optional[str] = None,
        compact_key_prefixes: bool = False,
    ) -> int:
        """Insert one Point (reference database.py:600-621). Returns 1.

        ``compact_key_prefixes`` selects the short ``t_``/``f_`` key
        prefixes in the CSV codec (reference point.py:106-107); other
        storages carry keys natively and ignore it."""
        return self.insert_multiple(
            [point], measurement, compact_key_prefixes=compact_key_prefixes
        )

    def insert_multiple(
        self,
        points: Iterable[Point],
        measurement: Optional[str] = None,
        batch_size: int = 10000,
        compact_key_prefixes: bool = False,
    ) -> int:
        """Batched append accepting generators
        (reference database.py:623-656,1255-1315). Missing times are
        stamped with one shared now(UTC) per call
        (reference database.py:1274-1278)."""
        now = datetime.now(timezone.utc)
        count = 0
        batch: List[Point] = []

        def _flush(b: List[Point]) -> None:
            self._storage.append_points(
                b, compact_key_prefixes=compact_key_prefixes
            )

        for p in points:
            if not isinstance(p, Point):
                raise TypeError("Data must be a Point instance.")
            q = p.copy()
            if measurement is not None:
                q.measurement = measurement
            if q.time is None:
                q.time = now
            batch.append(q)
            if len(batch) >= batch_size:
                _flush(batch)
                count += len(batch)
                batch = []
        if batch:
            _flush(batch)
            count += len(batch)
        return count

    def insert_dataframe(self, df: DataFrame, measurement: Optional[str] = None) -> None:
        """Bulk ingest: a DataFrame already in canonical schema (the
        scale path — no driver-side Points)."""
        if measurement is not None:
            df = df.withColumn("measurement", F.lit(measurement))
        self._storage.append_df(df)

    # -- read path ------------------------------------------------------
    def _filtered(self, query: Optional[Query], measurement: Optional[str]) -> DataFrame:
        df = self._storage.read()
        if measurement is not None:
            df = df.where(F.col("measurement") == measurement)
        if query is not None:
            query = _as_query(query)
            # Inject pdate partition conjuncts implied by time bounds —
            # directory-level pruning on top of the row-level predicate
            # (the partition column carries the filter Catalyst can
            # prune on; the time column's parquet min/max stats then
            # skip row groups within surviving partitions).
            if PDATE_COL in df.columns:
                lo, hi = _prunable_time_bounds(query)
                if lo is not None:
                    df = df.where(F.col(PDATE_COL) >= utc_date_str(lo))
                if hi is not None:
                    df = df.where(F.col(PDATE_COL) <= utc_date_str(hi))
            df = df.where(query.compile(indexed=self._storage.index_cols))
        return df.drop(PDATE_COL, *self._storage.index_cols.values())

    def _collect_table(
        self, query: Optional[Query], measurement: Optional[str], sorted: bool
    ):
        """Matches as one ``pyarrow.Table``, filtered in Spark and
        ordered on the driver.

        The unsorted ``_filtered`` frame, ``_seq`` included, comes back
        through one Arrow collect (one Spark job). The driver then sorts
        by (time, _seq), or by ``_seq`` alone for ``sorted=False``, and
        drops ``_seq``. A Spark ``orderBy`` here would add a range-sort
        sampling job and a shuffle to order rows that all land in this
        process anyway. ``null_placement="at_start"`` matches Spark's
        ``ASC NULLS FIRST``.
        """
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from . import schema

        df = self._filtered(query, measurement)
        batches = schema.collect_arrow_batches(df)
        table = (
            pa.Table.from_batches(batches) if batches
            else to_arrow_schema(df.schema).empty_table()
        )
        keys = [("time", "ascending")] if sorted else []
        return table.sort_by(
            keys + [(SEQ_COL, "ascending")], null_placement="at_start"
        ).drop_columns([SEQ_COL])

    def _collect_points(
        self, query: Optional[Query], measurement: Optional[str], sorted: bool
    ) -> List[Point]:
        """Matches as Points, built from ``_collect_table``'s columns.
        Arrow hands back tz-aware timestamps and maps as (key, value)
        pairs; Points carry ``timezone.utc`` and dicts, like
        ``Point.from_row``."""
        import pyarrow as pa

        table = self._collect_table(query, measurement, sorted)
        times = table.column("time").cast(pa.timestamp("us")).to_pylist()
        out: List[Point] = []
        for t, m, tg, fl in zip(
            times,
            table.column("measurement").to_pylist(),
            table.column("tags").to_pylist(),
            table.column("fields").to_pylist(),
        ):
            p = Point.__new__(Point)
            p._time = None if t is None else t.replace(tzinfo=timezone.utc)
            p._measurement = m
            # Only a NULL map needs the fallback; empty maps arrive as [].
            p._tags = dict(tg) if tg is not None else {}
            p._fields = dict(fl) if fl is not None else {}
            out.append(p)
        return out

    def all(self, sorted: bool = True, measurement: Optional[str] = None) -> List[Point]:
        return self._collect_points(None, measurement, sorted)

    def search(
        self,
        query: Query,
        measurement: Optional[str] = None,
        sorted: bool = True,
    ) -> List[Point]:
        """All matching points (reference database.py:740-828), by
        (time, insertion order), or insertion order for
        ``sorted=False``. Spark filters; the driver orders."""
        return self._collect_points(query, measurement, sorted)

    def search_df(
        self,
        query: Query,
        measurement: Optional[str] = None,
        sorted: bool = True,
    ) -> DataFrame:
        df = self._filtered(query, measurement)
        return df.orderBy("time", SEQ_COL) if sorted else df.orderBy(SEQ_COL)

    def search_arrow(
        self,
        query: Query,
        measurement: Optional[str] = None,
        sorted: bool = True,
    ):
        """Matching points as a list of Arrow record batches, the
        low-latency serving format: columnar, zero row objects, in
        ``search``'s order. Spark filters in one job; the driver sorts
        the collected table, since every row comes here anyway. Feed
        the batches to ``pyarrow.Table.from_batches`` / pandas / DuckDB
        as needed."""
        return self._collect_table(query, measurement, sorted).to_batches()

    def get(self, query: Query, measurement: Optional[str] = None) -> Optional[Point]:
        """First match by insertion order — NOT min-time
        (reference database.py:315-386)."""
        rows = (
            self._filtered(query, measurement)
            .orderBy(SEQ_COL)
            .limit(1)
            .collect()
        )
        return Point.from_row(rows[0]) if rows else None

    def count(self, query: Query, measurement: Optional[str] = None) -> int:
        return self._filtered(query, measurement).count()

    def contains(self, query: Query, measurement: Optional[str] = None) -> bool:
        """Existence test; LIMIT 1 short-circuits the scan
        (reference database.py:209-251)."""
        return bool(self._filtered(query, measurement).limit(1).take(1))

    @staticmethod
    def _rows_by_seq(df: DataFrame, *cols) -> List[tuple]:
        """``cols`` of every row of ``df`` as tuples, in insertion
        order. Spark filters and projects in one job; the driver sorts
        on ``_seq`` rather than paying a Spark range sort."""
        rows = df.select(SEQ_COL, *cols).collect()
        rows.sort(key=lambda r: r[0])
        return [r[1:] for r in rows]

    @staticmethod
    def _select_cols(keys: Sequence[str]) -> List:
        cols = []
        for k in keys:
            if k in ("time", "measurement"):
                c = F.col(k)
            elif k.startswith("tags."):
                c = F.col("tags")[k[5:]]
            elif k.startswith("fields."):
                c = F.col("fields")[k[7:]]
            else:
                raise ValueError(
                    "Select keys must be 'time', 'measurement', "
                    "'tags.<key>', or 'fields.<key>'."
                )
            cols.append(c.alias(k.replace(".", "_")))
        return cols

    def select(
        self,
        keys: Union[str, Sequence[str]],
        query: Query,
        measurement: Optional[str] = None,
    ) -> List:
        """Projection of matches, insertion order; missing key → None;
        one key → scalars, several → tuples
        (reference database.py:830-974)."""
        single = isinstance(keys, str)
        rows = self._rows_by_seq(
            self._filtered(query, measurement),
            *self._select_cols([keys] if single else keys),
        )
        return [r[0] for r in rows] if single else rows

    def select_df(
        self,
        keys: Sequence[str],
        query: Query,
        measurement: Optional[str] = None,
    ) -> DataFrame:
        return (
            self._filtered(query, measurement)
            .orderBy(SEQ_COL)
            .select(*self._select_cols(keys))
        )

    # -- introspection --------------------------------------------------
    # Distinct key lists are small: they are sorted in Python after the
    # collect. Python's code-point order equals Spark's UTF-8 byte order.
    def get_measurements(self) -> List[str]:
        rows = self._storage.read().select("measurement").distinct().collect()
        return sorted(r[0] for r in rows)

    def get_field_keys(self, measurement: Optional[str] = None) -> List[str]:
        rows = (
            self._filtered(None, measurement)
            .select(F.explode(F.map_keys("fields")).alias("k"))
            .distinct()
            .collect()
        )
        return sorted(r[0] for r in rows)

    def get_field_values(
        self, field_key: str, measurement: Optional[str] = None
    ) -> List[Optional[float]]:
        """Values in insertion order; rows lacking the key are skipped
        (reference database.py:421-457)."""
        df = self._filtered(None, measurement).where(
            F.map_contains_key(F.col("fields"), field_key)
        )
        return [r[0] for r in self._rows_by_seq(df, F.col("fields")[field_key])]

    def get_tag_keys(self, measurement: Optional[str] = None) -> List[str]:
        rows = (
            self._filtered(None, measurement)
            .select(F.explode(F.map_keys("tags")).alias("k"))
            .distinct()
            .collect()
        )
        return sorted(r[0] for r in rows)

    def get_tag_values(
        self,
        tag_keys: Optional[Sequence[str]] = None,
        measurement: Optional[str] = None,
    ) -> Dict[str, List[Optional[str]]]:
        """key → sorted distinct values, None first
        (reference database.py:512-558)."""
        df = (
            self._filtered(None, measurement)
            .select(F.explode(F.col("tags")).alias("k", "v"))
        )
        if tag_keys:
            df = df.where(F.col("k").isin(list(tag_keys)))
        rows = df.distinct().collect()
        out: Dict[str, List[Optional[str]]] = {
            k: [] for k in (tag_keys or [])
        }
        for r in rows:
            out.setdefault(r["k"], []).append(r["v"])
        for k in out:
            vals = out[k]
            has_none = any(v is None for v in vals)
            vals = sorted(v for v in vals if v is not None)
            out[k] = ([None] + vals) if has_none else vals
        return dict(sorted(out.items()))

    def get_timestamps(self, measurement: Optional[str] = None) -> List[datetime]:
        rows = self._rows_by_seq(self._filtered(None, measurement), "time")
        return [
            r[0].replace(tzinfo=timezone.utc) if r[0].tzinfo is None else r[0]
            for r in rows
        ]

    # -- DML ------------------------------------------------------------
    @staticmethod
    def _sorted_entries(col: str):
        # Maps aren't directly comparable in Spark SQL; compare sorted
        # entry arrays instead.
        return F.sort_array(F.map_entries(F.col(col)))

    def _apply_update(
        self,
        df: DataFrame,
        pred,
        time: Union[datetime, Callable, None],
        measurement: Union[str, Callable, None],
        tags: Union[Dict[str, Optional[str]], Callable, None],
        fields: Union[Dict[str, Union[int, float, None]], Callable, None],
        unset_fields: Optional[Sequence[str]],
        unset_tags: Optional[Sequence[str]],
    ) -> DataFrame:
        """Produce the updated frame + a _changed flag column.

        Constants compile to pure Column expressions (JVM-side); callables
        become Python UDFs (the reference accepts arbitrary callables,
        database.py:1148-1223 — inherently a UDF surface).
        """
        # Callable updaters run as UDFs. Spark evaluates extracted Python
        # UDFs on every row regardless of the surrounding when(pred, ...),
        # so each UDF takes the match flag and passes non-matching rows
        # through untouched (the reference only invokes updaters on
        # candidates, database.py:1513-1574).
        new_time = F.col("time")
        if callable(time):
            fn = time

            @F.udf(T.TimestampType())
            def time_udf(m, t):
                if not m:
                    return t
                return fn(
                    t.replace(tzinfo=timezone.utc) if t.tzinfo is None else t
                )

            new_time = time_udf(pred, F.col("time"))
        elif time is not None:
            if not isinstance(time, datetime):
                raise ValueError("Time must be datetime object.")
            new_time = F.lit(time)

        new_meas = F.col("measurement")
        if callable(measurement):
            mfn = measurement

            @F.udf(T.StringType())
            def meas_udf(m, s):
                return mfn(s) if m else s

            new_meas = meas_udf(pred, F.col("measurement"))
        elif measurement is not None:
            if not isinstance(measurement, str):
                raise ValueError("Measurement must be str.")
            new_meas = F.lit(measurement)

        new_tags = F.col("tags")
        if callable(tags):
            tfn = tags

            @F.udf(T.MapType(T.StringType(), T.StringType()))
            def tags_udf(m, tg):
                if not m:
                    return tg
                # Merge, not replace: reference does
                # point.tags.update(tags(old_tags)) (database.py:1183-1193).
                merged = dict(tg or {})
                merged.update(tfn(dict(tg or {})))
                return merged

            new_tags = tags_udf(pred, F.col("tags"))
        elif tags is not None:
            Point(tags=dict(tags))  # validate via Point rules
            # Right-biased merge == dict.update (reference
            # database.py:1184-1201). Overwritten keys are filtered out
            # of the old map first so map_concat never sees a duplicate
            # key — no reliance on the session's mapKeyDedupPolicy.
            tag_keys = list(tags.keys())
            new_tags = F.map_concat(
                F.map_filter(F.col("tags"), lambda k, v: ~k.isin(tag_keys)),
                F.create_map(
                    *[x for k, v in tags.items() for x in (F.lit(k), F.lit(v))]
                ),
            )
        if unset_tags:
            keys = list(unset_tags)
            new_tags = F.map_filter(
                new_tags, lambda k, v: ~k.isin(keys)
            )

        new_fields = F.col("fields")
        if callable(fields):
            ffn = fields

            @F.udf(T.MapType(T.StringType(), T.DoubleType()))
            def fields_udf(m, fl):
                if not m:
                    return fl
                # Merge, not replace (reference database.py:1195-1206).
                merged = dict(fl or {})
                merged.update(
                    {
                        k: (None if v is None else float(v))
                        for k, v in ffn(dict(fl or {})).items()
                    }
                )
                return merged

            new_fields = fields_udf(pred, F.col("fields"))
        elif fields is not None:
            Point(fields=dict(fields))
            field_keys = list(fields.keys())
            new_fields = F.map_concat(
                F.map_filter(
                    F.col("fields"), lambda k, v: ~k.isin(field_keys)
                ),
                F.create_map(
                    *[
                        x
                        for k, v in fields.items()
                        for x in (
                            F.lit(k),
                            F.lit(float(v)).cast("double")
                            if v is not None
                            else F.lit(None).cast("double"),
                        )
                    ]
                ),
            )
        if unset_fields:
            keys = list(unset_fields)
            new_fields = F.map_filter(
                new_fields, lambda k, v: ~k.isin(keys)
            )

        updated = df.select(
            F.when(pred, new_time).otherwise(F.col("time")).alias("time"),
            F.when(pred, new_meas).otherwise(F.col("measurement")).alias("measurement"),
            F.when(pred, new_tags).otherwise(F.col("tags")).alias("tags"),
            F.when(pred, new_fields).otherwise(F.col("fields")).alias("fields"),
            F.col(SEQ_COL),
            pred.alias("_matched"),
            F.col("time").alias("_old_time"),
            F.col("measurement").alias("_old_meas"),
            self._sorted_entries("tags").alias("_old_tags"),
            self._sorted_entries("fields").alias("_old_fields"),
        )
        changed = F.col("_matched") & (
            (~F.col("time").eqNullSafe(F.col("_old_time")))
            | (F.col("measurement") != F.col("_old_meas"))
            | (F.sort_array(F.map_entries(F.col("tags"))) != F.col("_old_tags"))
            | (F.sort_array(F.map_entries(F.col("fields"))) != F.col("_old_fields"))
        )
        return updated.withColumn("_changed", changed).drop(
            "_matched", "_old_time", "_old_meas", "_old_tags", "_old_fields"
        )

    def update(
        self,
        query: Query,
        time: Union[datetime, Callable, None] = None,
        measurement: Union[str, Callable, None] = None,
        tags: Union[Dict[str, Optional[str]], Callable, None] = None,
        fields: Union[Dict[str, Union[int, float, None]], Callable, None] = None,
        unset_fields: Optional[Sequence[str]] = None,
        unset_tags: Optional[Sequence[str]] = None,
        _measurement_scope: Optional[str] = None,
    ) -> int:
        """Update matches; returns the number of points actually changed
        (reference database.py:976-1018)."""
        if all(
            x is None
            for x in (time, measurement, tags, fields, unset_fields, unset_tags)
        ):
            raise ValueError(
                "Must include time, measurement, tags, and/or fields."
            )
        q = _as_query(query)
        if _measurement_scope is not None:
            q = q & (MeasurementQuery() == _measurement_scope)
        pred = q.compile(indexed=self._storage.index_cols)

        # Partition-scoped rewrite: measurement updates can move rows
        # across measurement partitions and time updates across date
        # partitions, so each scope only applies when that attribute is
        # untouched and the storage can swap partitions.
        scope = None
        date_range = None
        if self._storage.supports_partition_swap:
            if measurement is None:
                scope = _prunable_measurements(q)
            if time is None:
                date_range = self._date_scope(q)
        df = self._storage.read()
        df, date_range = self._apply_scope(df, scope, date_range)
        updated = self._apply_update(
            df, pred, time, measurement, tags, fields, unset_fields, unset_tags
        )
        updated = updated.cache()
        try:
            # One job counts the changes and sizes the rewrite.
            n_changed, nrows = updated.agg(
                F.count_if(F.col("_changed")), F.count(F.lit(1))
            ).first()
            if n_changed:
                self._storage.overwrite(
                    updated.drop("_changed"),
                    measurements=scope if scope else None,
                    date_range=date_range,
                    nrows=nrows,
                )
            return n_changed
        finally:
            updated.unpersist()

    def _date_scope(self, q: Query) -> Optional[tuple]:
        """(lo, hi) pdate strings implied by the predicate, or None."""
        lo, hi = _prunable_time_bounds(q)
        if lo is None and hi is None:
            return None
        return (
            utc_date_str(lo) if lo is not None else None,
            utc_date_str(hi) if hi is not None else None,
        )

    def _apply_scope(
        self,
        df: DataFrame,
        scope: Optional[List[str]],
        date_range: Optional[tuple],
    ):
        """Restrict a raw store frame to the rewrite scope."""
        if scope:
            df = df.where(F.col("measurement").isin(scope))
        if date_range is not None and PDATE_COL in df.columns:
            lo, hi = date_range
            if lo is not None:
                df = df.where(F.col(PDATE_COL) >= lo)
            if hi is not None:
                df = df.where(F.col(PDATE_COL) <= hi)
        else:
            date_range = None
        return df, date_range

    def update_all(self, **kwargs) -> int:
        """Unconditional update (reference database.py:1020-1062)."""
        from .queries import TimeQuery

        return self.update(TimeQuery().noop(), **kwargs)

    def remove(self, query: Query, measurement: Optional[str] = None) -> int:
        """Delete matches, return count (reference database.py:707-725)."""
        q = _as_query(query)
        if measurement is not None:
            q = q & (MeasurementQuery() == measurement)
        pred = q.compile(indexed=self._storage.index_cols)
        scope = None
        date_range = None
        if self._storage.supports_partition_swap:
            scope = _prunable_measurements(q)
            date_range = self._date_scope(q)
        df = self._storage.read()
        df, date_range = self._apply_scope(df, scope, date_range)
        df = df.cache()
        try:
            n_removed, nrows = df.agg(
                F.count_if(pred), F.count(F.lit(1))
            ).first()
            if n_removed:
                self._storage.overwrite(
                    df.where(~pred),
                    measurements=scope if scope else None,
                    date_range=date_range,
                    nrows=nrows - n_removed,
                )
            return n_removed
        finally:
            df.unpersist()

    def remove_all(self) -> None:
        """Truncate (reference database.py:727-738)."""
        if isinstance(self._storage, ParquetStorage):
            self._storage.truncate()
        else:
            empty = self.spark.createDataFrame(
                [], self._storage.read().schema
            )
            self._storage.overwrite(empty)

    def drop_measurement(self, name: str) -> int:
        """Delete one measurement (reference database.py:293-313). On
        parquet this is a partition drop — no data rewrite."""
        n = self._storage.read().where(F.col("measurement") == name).count()
        if isinstance(self._storage, ParquetStorage):
            self._storage.drop_partition(name)
        elif n:
            keep = self._storage.read().where(F.col("measurement") != name)
            self._storage.overwrite(keep)
        self._measurements.pop(name, None)
        return n

    def drop_measurements(self) -> None:
        self.remove_all()

    def compact(self, measurement: Optional[str] = None) -> int:
        """Maintenance *(extension)*: merge each partition's accumulated
        small files (one per append/micro-batch) into one file per
        ``(measurement, date)`` directory. Data, insertion order and
        index columns are untouched. Returns files eliminated; no-op (0)
        on storages without file-granular layout."""
        if isinstance(self._storage, ParquetStorage):
            return self._storage.compact(measurement)
        return 0

    def downsample(
        self,
        older_than: datetime,
        interval_sec: int,
        agg: str = "avg",
        measurement: Optional[str] = None,
    ) -> int:
        """Retention downsampling *(extension, the InfluxDB
        retention-policy + continuous-query analog)*: replace every
        point older than ``older_than`` with ONE aggregated point per
        (measurement, exact tag set, ``interval_sec`` bucket); each
        field key is aggregated independently (``agg``: avg/min/max/
        sum/count), so schemaless key sets survive — a key present with
        only None values stays present-with-None. Newer points are
        untouched. Returns the number of raw points replaced.

        Physical shape: one shuffle on (measurement, tag-set, bucket)
        with map-side partial aggregation; on parquet the rewrite is
        scoped to the date partitions at-or-before the cutoff via the
        same staged-swap DML uses — a year-old retention pass never
        touches today's directories. Tag sets group as sorted
        ``map_entries`` arrays (Spark cannot group by a map column).
        Downsampled points are appended to the durable ``_seq`` order
        (they are new synthetic points; their raw originals are gone).
        """
        if older_than.tzinfo is None:
            raise ValueError("older_than must be timezone-aware")
        from .operators.timeseries import FIELD_AGGS

        if agg not in FIELD_AGGS:
            raise ValueError(f"downsample: unsupported agg {agg!r}")
        cutoff_date = utc_date_str(older_than)
        parquet = isinstance(self._storage, ParquetStorage)
        # Storages without scoped overwrite (CSV) take the full-rewrite
        # path: the frame carries every surviving row, in-scope or not.
        scoped = parquet or isinstance(self._storage, MemoryStorage)
        full = self._storage.read().select(
            "time", "measurement", "tags", "fields", SEQ_COL,
            *([PDATE_COL] if parquet else []),
        )
        if measurement is not None and scoped:
            full = full.where(F.col("measurement") == measurement)
        if parquet:
            # partition pruning: only at-or-before-cutoff directories
            # are read (and later swapped); everything newer is invisible
            # to this pass.
            full = full.where(
                F.col(PDATE_COL) <= F.lit(cutoff_date)
            ).drop(PDATE_COL)
        elif scoped:
            # same day scope by derived date: rows outside it are the
            # storage's own "others" set during the scoped overwrite and
            # must not also ride along in `keep` (double insertion).
            full = full.where(
                F.date_format("time", "yyyy-MM-dd") <= F.lit(cutoff_date)
            )
        cut = F.lit(older_than.astimezone(timezone.utc).replace(tzinfo=None))
        in_scope = F.col("time") < cut
        if measurement is not None and not scoped:
            in_scope = in_scope & (F.col("measurement") == measurement)
        old = full.where(in_scope)
        keep = full.where(~in_scope)
        n_old = old.count()
        if n_old == 0:
            return 0

        from .operators.timeseries import (
            explode_point_fields,
            field_agg_column,
            reassemble_fields,
        )

        b = (
            F.floor(F.unix_timestamp("time") / interval_sec) * interval_sec
        ).cast("long")
        exploded = explode_point_fields(
            old.withColumn("_b", b), keep_cols=["_b"]
        )
        per_key = exploded.groupBy("measurement", "_tags", "_b", "_fk").agg(
            field_agg_column(agg).alias("_v")
        )
        # Cache bounds _mid stability below; the cached frame is
        # rollup-sized (one row per series-bucket), not corpus-sized.
        rolled = (
            reassemble_fields(per_key, ["measurement", "_tags", "_b"])
            .select(
                F.timestamp_seconds(F.col("_b")).alias("time"),
                "measurement",
                F.map_from_entries("_tags").alias("tags"),
                "fields",
            )
            .cache()
        )
        try:
            # _mid is monotonic+unique but NOT dense (partition-major),
            # so the reserved block is max(_mid)+1 wide, same as
            # append_df; the cache above makes _mid stable across the
            # stats and write passes.
            with_mid = rolled.withColumn(
                "_mid", F.monotonically_increasing_id()
            )
            mx = int(with_mid.agg(F.max("_mid")).collect()[0][0])
            start = (
                self._storage._bump_seq(mx + 1)
                if parquet
                else self._storage.next_seq()
            )
            new_rows = with_mid.withColumn(
                SEQ_COL, (F.col("_mid") + F.lit(start)).cast("long")
            ).drop("_mid")
            final = keep.select(
                "time", "measurement", "tags", "fields", SEQ_COL
            ).unionByName(
                new_rows.select(
                    "time", "measurement", "tags", "fields", SEQ_COL
                )
            )
            if scoped:
                self._storage.overwrite(
                    final,
                    measurements=[measurement] if measurement else None,
                    date_range=(None, cutoff_date),
                )
            else:
                self._storage.overwrite(final)
        finally:
            rolled.unpersist()
        return n_old

    # -- measurement handles --------------------------------------------
    def measurement(self, name: str, **kwargs) -> "Measurement":
        """Cached handle scoped to one measurement
        (reference database.py:658-685; like the reference, extra
        kwargs are accepted for drop-in compatibility and ignored —
        the handle shares the database's storage)."""
        if name not in self._measurements:
            from .measurement import Measurement

            self._measurements[name] = Measurement(name, self)
        return self._measurements[name]

    @property
    def index(self) -> "CompatIndex":
        """Drop-in stand-in for the reference's in-memory Index handle
        (reference database.py:123-126, index.py:100-165). This engine
        has no separate index to hold or invalidate — its 'index' is
        the parquet layout itself (partition directories + column
        stats, SURVEY §4), which every mutation keeps current via
        staged partition swaps — so the handle reports always-valid."""
        return CompatIndex(self)

    def reindex(self) -> None:
        """Reference-compat alias (reference database.py:687-714): the
        equivalent maintenance operation here is :meth:`compact`, which
        rewrites each partition's accumulated small files so scans and
        min/max pruning stay tight."""
        self.compact()


class CompatIndex:
    """Reference-compatible Index handle (reference index.py:100-165).

    The reference maintains an in-memory index over its storage that
    out-of-order writes invalidate; this engine's equivalent structure
    is the parquet partition layout plus per-file column statistics,
    which mutations rebuild atomically — so ``valid`` is always True
    and ``reindex()`` never has stale state to repair. The handle
    exists so reference code touching ``db.index.valid`` /
    ``db.index.empty`` / ``len(db.index)`` runs unmodified.
    """

    def __init__(self, db: "TinyFluxSpark") -> None:
        self._db = db

    @property
    def valid(self) -> bool:
        return True

    @property
    def empty(self) -> bool:
        return len(self._db) == 0

    def __len__(self) -> int:
        return len(self._db)

    def __repr__(self) -> str:  # mirrors reference index.py repr shape
        return f"<CompatIndex _all_points={len(self)} valid=True>"
