"""Seeded F2 ``iot`` points and the pure-Python model that answers for them.

The F2 shape is the reference benchmark's (FIXTURES.md F2): four
measurements, ``sensor_id``/``location``/``device_type`` tags,
``value``/``status``/``batch_id`` fields, times strictly increasing by
1-5 s per row. Every answer the benchmark checks comes from ``Model``,
which keeps its own copy of the rows and is updated beside every write
the benchmark makes, so no expected answer is ever read back from the
program under test.

A row is a tuple ``(seq, t_us, measurement, sensor, location, device,
value, status, batch_id)``; ``seq`` is the model's insertion order,
``t_us`` UTC microseconds since the epoch.
"""

from __future__ import annotations

import bisect
import random
from datetime import datetime, timedelta, timezone

MEASUREMENTS = ("temperature", "cpu_usage", "memory_usage", "network_io")
SENSORS = tuple(f"sensor_{i:03d}" for i in range(20))
LOCATIONS = ("datacenter_1", "datacenter_2", "edge_device", "mobile_unit")
DEVICES = ("server", "raspberry_pi", "arduino")

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
T0_US = int((datetime(2024, 1, 1, tzinfo=timezone.utc) - EPOCH).total_seconds()) * 10**6

SEQ, T, MEAS, SENSOR, LOC, DEV, VALUE, STATUS, BATCH = range(9)


def to_dt(t_us: int) -> datetime:
    return EPOCH + timedelta(microseconds=t_us)


def to_us(dt: datetime) -> int:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (dt - EPOCH) // timedelta(microseconds=1)


def make_rows(rng: random.Random, n: int, t_start_us: int, batch0: int = 0):
    """``n`` F2 rows with times strictly increasing from ``t_start_us``
    by 1-5 s (plus a sub-second jitter so times are not on whole
    seconds). ``seq`` is left as -1 for the model to assign."""
    rows = []
    t = t_start_us
    for i in range(n):
        t += rng.randint(1, 5) * 10**6 + rng.randrange(10**6)
        rows.append((
            -1, t, rng.choice(MEASUREMENTS), rng.choice(SENSORS),
            rng.choice(LOCATIONS), rng.choice(DEVICES),
            rng.uniform(0.0, 100.0), float(rng.randint(0, 1)),
            float((batch0 + i) // 1000),
        ))
    return rows


def rows_to_arrow(rows):
    """The rows as an Arrow table in the store's canonical schema."""
    import pyarrow as pa

    return pa.table({
        "time": pa.array([r[T] for r in rows], pa.timestamp("us", tz="UTC")),
        "measurement": pa.array([r[MEAS] for r in rows], pa.string()),
        "tags": pa.array(
            [[("sensor_id", r[SENSOR]), ("location", r[LOC]),
              ("device_type", r[DEV])] for r in rows],
            pa.map_(pa.string(), pa.string()),
        ),
        "fields": pa.array(
            [[("value", r[VALUE]), ("status", r[STATUS]),
              ("batch_id", r[BATCH])] for r in rows],
            pa.map_(pa.string(), pa.float64()),
        ),
    })


def rows_to_points(rows):
    """The rows as ``tinyflux_spark.Point`` objects (the ``point`` layer)."""
    from tinyflux_spark import Point

    return [
        Point(
            time=to_dt(r[T]), measurement=r[MEAS],
            tags={"sensor_id": r[SENSOR], "location": r[LOC],
                  "device_type": r[DEV]},
            fields={"value": r[VALUE], "status": r[STATUS],
                    "batch_id": r[BATCH]},
        )
        for r in rows
    ]


class Pred:
    """One query, held twice: as the program's query-algebra object
    (built lazily by ``build``) and as a pure-Python row test."""

    def __init__(self, kind: str, **kw):
        self.kind = kind
        self.kw = kw

    def test(self, r) -> bool:
        k = self.kw
        if self.kind == "tag":
            return r[SENSOR] == k["sensor"]
        if self.kind == "range":
            return k["lo"] <= r[T] <= k["hi"]
        if self.kind == "field":
            return r[VALUE] >= k["lo"]
        if self.kind == "compound":
            return k["lo"] <= r[VALUE] <= k["hi"] and r[SENSOR] == k["sensor"]
        if self.kind == "window":  # time window within one measurement
            return k["lo"] <= r[T] <= k["hi"] and r[MEAS] == k["meas"]
        raise ValueError(self.kind)

    def build(self):
        from tinyflux_spark import (
            FieldQuery, MeasurementQuery, TagQuery, TimeQuery,
        )

        k = self.kw
        if self.kind == "tag":
            return TagQuery().sensor_id == k["sensor"]
        if self.kind in ("range", "window"):
            q = (TimeQuery() >= to_dt(k["lo"])) & (TimeQuery() <= to_dt(k["hi"]))
            if self.kind == "window":
                q = q & (MeasurementQuery() == k["meas"])
            return q
        if self.kind == "field":
            return FieldQuery().value >= k["lo"]
        if self.kind == "compound":
            return (
                (FieldQuery().value >= k["lo"])
                & (FieldQuery().value <= k["hi"])
                & (TagQuery().sensor_id == k["sensor"])
            )
        raise ValueError(self.kind)


class Model:
    """The benchmark's own bookkeeping of what the store holds.

    Rows are kept sorted by time; ``seq`` records insertion order (the
    order ``get`` answers in). Range-shaped predicates scan only the
    bisected time slice, so a check costs little beside the op."""

    def __init__(self):
        self.rows: list = []
        self.times: list = []
        self.next_seq = 0

    def __len__(self) -> int:
        return len(self.rows)

    @property
    def last_us(self) -> int:
        return self.times[-1]

    def insert(self, rows) -> list:
        """Record an insert; returns the rows with their ``seq``."""
        out = [(self.next_seq + i,) + tuple(r[1:]) for i, r in enumerate(rows)]
        self.next_seq += len(out)
        self.rows.extend(out)
        self.rows.sort(key=lambda r: r[T])  # linear when already in order
        self.times = [r[T] for r in self.rows]
        return out

    def _span(self, pred: Pred):
        if pred.kind in ("range", "window"):
            i = bisect.bisect_left(self.times, pred.kw["lo"])
            j = bisect.bisect_right(self.times, pred.kw["hi"])
            return i, j
        return 0, len(self.rows)

    def matches(self, pred: Pred) -> list:
        i, j = self._span(pred)
        return [r for r in self.rows[i:j] if pred.test(r)]

    def remove(self, pred: Pred) -> int:
        i, j = self._span(pred)
        keep = [r for r in self.rows[i:j] if not pred.test(r)]
        n = (j - i) - len(keep)
        self.rows[i:j] = keep
        self.times[i:j] = [r[T] for r in keep]
        return n

    def update_status(self, pred: Pred, status: float) -> int:
        """Set ``fields.status``; returns rows whose value changed (the
        program's ``update`` counts only changed points)."""
        i, j = self._span(pred)
        n = 0
        for x in range(i, j):
            r = self.rows[x]
            if pred.test(r) and r[STATUS] != status:
                self.rows[x] = r[:STATUS] + (status,) + r[STATUS + 1:]
                n += 1
        return n

    def tag_values(self) -> list:
        return sorted({r[SENSOR] for r in self.rows})

    def measurements(self) -> list:
        return sorted({r[MEAS] for r in self.rows})


def key_sum(times_us) -> int:
    """Order-free key checksum of a result: the sum of its row times,
    which are unique per row in F2."""
    return sum(times_us) & 0xFFFFFFFFFFFFFFFF
