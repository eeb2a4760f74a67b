"""The two workloads: one client, closed loop, every answer checked.

``serve``        read-only traffic over the compacted F2 store.
``ingest_mixed`` gateway flushes, read-your-writes, DML and backfills
                 beside the same read traffic, compacting every
                 ``COMPACT_EVERY`` flushes.

Both start from the same store, built by ``Bench.setup``: bulk history
through ``insert_dataframe``, one gateway flush through
``insert_multiple``, a status correction (``update``), a retention trim
(``remove``) and ``compact`` -- so every public call either workload
times also runs, and is traced, on the other one's set-up. A traced
run ends with the analytics pass (``Bench.analytics``).
"""

from __future__ import annotations

import gc
import itertools
import os
import random
import shutil
import statistics
import time

import analytics
import gen
import host
import tracer as tracing
from gen import MEAS, MEASUREMENTS, SENSORS, T, Model, Pred, key_sum

SETUPS = 3  # bulk loads per run; setup_s counts their median
WARMUP_ROUNDS = 3  # rounds of every read kind before timing
TOPUP = 200  # points of the set-up's gateway flush
INDEX_TAGS = ["sensor_id"]
INDEX_FIELDS = ["value"]

READ_KINDS = (
    "arrow_tag", "arrow_range", "arrow_field", "arrow_compound",
    "count", "get", "arrow_tag", "arrow_range", "arrow_field",
    "arrow_compound", "contains", "search", "get_measurements",
    "get_tag_values",
)
WRITE_KINDS = ("insert_multiple", "insert_dataframe", "update", "remove",
               "compact")
FLUSH_SIZES = (1, 10, 50, 200)  # one of each per four flushes
READS_PER_FLUSH = 3  # serve-mix reads per step, beside read-your-writes
# One heavy op per step, in a three-step rotation: any run of a few
# steps makes nearly the same mix.
HEAVY = ("update", "backfill", "remove")
# The program's own compaction policy: ``stream_insert`` compacts every
# ``compact_every_n_batches=32`` micro-batches. ingest_mixed's set-up
# makes half that many flushes, so a timed phase of a few steps reads
# and writes a store half-way through a compaction cycle.
COMPACT_EVERY = 32
PREFLUSHES = COMPACT_EVERY // 2
ANALYTICS_PASSES = 2  # measured passes, after one warm-up pass
BACKFILL_POINTS = 1000
HOUR_US = 3600 * 10**6
MINUTE_US = 60 * 10**6


def _arrow_answer(batches):
    """(rows, key checksum, time-sorted?) of a ``search_arrow`` result."""
    import numpy as np
    import pyarrow as pa

    if not batches:
        return (0, 0, True)
    t = pa.concat_arrays([b.column("time") for b in batches]).cast(pa.int64())
    a = np.asarray(t).view(np.uint64)
    ordered = bool(a.size < 2 or (np.diff(a.view(np.int64)) >= 0).all())
    return (len(a), int(a.sum(dtype=np.uint64)), ordered)


class Bench:
    def __init__(self, spark, work: str, seed: int, trace: bool,
                 n_points: int = 100_000, model_hook=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace = trace
        self.n_points = n_points
        self.model_hook = model_hook
        self.tracer = tracing.Tracer(spark)
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.phase = "setup"
        self.timed_ops = 0
        self.timed_op_ms = 0.0  # summed wall of the timed, checked ops
        self.read_ms: dict = {}  # kind -> [ms], timed phase only
        self.op_phase: dict = {}  # op id -> phase
        self.write_bytes: list = []  # (phase, kind, new bytes, points)
        self.construct_us: list = []
        self.files: list = []
        self.versions: list = []
        self.disk_per_pt: list = []
        self.since_compact = 0  # flushes since the last compact
        self.pass_s: list = []  # measured analytics passes
        self.db = None
        self.model = None
        self.gc_ms = 0  # JVM collector ms in the timed phase (traced runs)
        if trace:
            tracing.install(self.tracer, spark)

    # -- one checked public call ----------------------------------------
    def call(self, kind: str, fn, expect, points: int = 0,
             by_window: bool = False):
        """Run ``fn`` as one op; ``expect(result)`` returns ``(got,
        want)``, with ``want`` taken from the model, which the caller has
        already advanced. An exception or a mismatch is a failed op.
        ``points`` is the number of points a write adds; ``by_window``
        is passed to ``Tracer.op``."""
        self.attempted += 1
        before = host.inodes(self.db.storage.path) if (
            self.trace and kind in WRITE_KINDS) else None
        try:
            with self.tracer.op(kind, self.trace, by_window) as rec:
                result = fn()
            # an answer of the wrong shape fails here, as a failed op
            got, want = expect(result)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            self._fail(kind, f"raised {type(e).__name__}: {str(e)[:200]}")
            return None
        self.op_phase[rec["id"]] = self.phase
        if before is not None:
            new = host.new_bytes(before, host.inodes(self.db.storage.path))
            self.write_bytes.append((self.phase, kind, new, points))
        if got != want:
            self._fail(kind, f"got {got!r}, expected {want!r}")
        elif self.phase == "timed":
            self.timed_ops += 1
            self.timed_op_ms += rec["wall_ms"]
            if kind not in WRITE_KINDS:
                self.read_ms.setdefault(kind, []).append(rec["wall_ms"])
        return result

    def _fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 10:
            self.failures.append(f"{self.phase} {kind}: {msg}")

    def q(self, pred: Pred):
        """The program's query object for ``pred``; in a traced op its
        ``compile`` is wrapped so the query layer shows as a span."""
        qo = pred.build()
        if self.trace:
            self.tracer.wrap_attr(qo, "compile", "queries.compile")
        return qo

    def points(self, rows):
        t0 = time.perf_counter()
        pts = gen.rows_to_points(rows)
        if rows:
            self.construct_us.append(
                (time.perf_counter() - t0) * 1e6 / len(rows))
        return pts

    def sample_layout(self) -> None:
        """File and version counts, and on-disk bytes per live point
        (all retained versions, each inode once), after each step."""
        st = self.db.storage
        self.files.append(st.parquet_file_count())
        self.versions.append(len(st.list_versions()))
        self.disk_per_pt.append(host.disk_bytes(st.path) / len(self.model))

    # -- reads ------------------------------------------------------------
    def read(self, kind: str, rng: random.Random) -> None:
        db, m = self.db, self.model
        lo_t, hi_t = m.times[0], m.last_us
        if kind == "arrow_tag":
            p = Pred("tag", sensor=rng.choice(SENSORS))
        elif kind == "arrow_range":
            lo = rng.randint(lo_t, hi_t - HOUR_US)
            p = Pred("range", lo=lo, hi=lo + HOUR_US)
        elif kind == "arrow_field":
            p = Pred("field", lo=95.0 + 4.0 * rng.random())
        elif kind == "arrow_compound":
            lo = 50.0 * rng.random()
            p = Pred("compound", lo=lo, hi=lo + 50.0, sensor=rng.choice(SENSORS))
        if kind.startswith("arrow_"):
            self.arrow(kind, p)
        elif kind == "search":
            lo = rng.randint(lo_t, hi_t - 10 * MINUTE_US)
            p = Pred("range", lo=lo, hi=lo + 10 * MINUTE_US)
            self.call(kind, lambda: db.search(self.q(p)), lambda r: (
                (len(r), key_sum(gen.to_us(x.time) for x in r)),
                self._expect(p)[:2]))
        elif kind == "count":
            p = Pred("tag", sensor=rng.choice(SENSORS))
            self.call(kind, lambda: db.count(self.q(p)),
                      lambda r: (r, len(m.matches(p))))
        elif kind == "get":
            p = Pred("field", lo=99.0 + rng.random())
            self.call(kind, lambda: db.get(self.q(p)), lambda r: (
                None if r is None else gen.to_us(r.time),
                min(m.matches(p), default=(None, None))[T]))
        elif kind == "contains":
            absent = rng.random() < 0.25
            p = Pred("tag", sensor="sensor_999" if absent
                     else rng.choice(SENSORS))
            self.call(kind, lambda: db.contains(self.q(p)),
                      lambda r: (r, any(True for _ in m.matches(p))))
        elif kind == "get_measurements":
            self.call(kind, db.get_measurements,
                      lambda r: (r, m.measurements()))
        elif kind == "get_tag_values":
            self.call(kind, lambda: db.get_tag_values(["sensor_id"]),
                      lambda r: (r, {"sensor_id": m.tag_values()}))

    def _expect(self, p: Pred):
        rows = self.model.matches(p)
        return (len(rows), key_sum(r[T] for r in rows), True)

    def arrow(self, kind: str, p: Pred) -> None:
        self.call(kind, lambda: self.db.search_arrow(self.q(p)),
                  lambda r: (_arrow_answer(r), self._expect(p)))

    # -- writes -------------------------------------------------------------
    def flush(self, rows) -> None:
        """One gateway flush through ``insert_multiple``; every
        ``COMPACT_EVERY``-th flush since the last compact compacts."""
        pts = self.points(rows)
        rows = self.model.insert(rows)
        self.call("insert_multiple", lambda: self.db.insert_multiple(pts),
                  lambda r: (r, len(rows)), points=len(rows))
        self.since_compact += 1
        if self.since_compact == COMPACT_EVERY:
            self.compact()

    def bulk(self, rows, name: str) -> None:
        """``insert_dataframe`` of rows staged as a parquet file."""
        import pyarrow.parquet as pq

        path = os.path.join(self.work, f"{name}.parquet")
        pq.write_table(gen.rows_to_arrow(rows), path)
        df = self.spark.read.parquet(path)
        self.model.insert(rows)
        self.call("insert_dataframe", lambda: self.db.insert_dataframe(df),
                  lambda r: (r, None), points=len(rows))

    def update(self, p: Pred, status: float) -> None:
        want = self.model.update_status(p, status)
        self.call("update",
                  lambda: self.db.update(self.q(p), fields={"status": status}),
                  lambda r: (r, want))

    def remove(self, p: Pred) -> None:
        want = self.model.remove(p)
        self.call("remove", lambda: self.db.remove(self.q(p)),
                  lambda r: (r, want))

    def compact(self) -> None:
        self.since_compact = 0
        self.call("compact", self.db.compact,
                  lambda r: (isinstance(r, int) and r >= 0, True))

    def check_len(self) -> None:
        self.call("len", lambda: len(self.db), lambda r: (r, len(self.model)))

    # -- set-up -------------------------------------------------------------
    def setup(self, workload: str) -> float:
        """Bulk-load the seeded history into a fresh store ``SETUPS``
        times and keep the last one; then prepare it once for serving (a
        gateway flush, a status correction, a retention trim, a compact)
        and warm up with ``WARMUP_ROUNDS`` rounds of every read kind.
        For ``ingest_mixed`` the warm-up is instead ``PREFLUSHES``
        flushes, each followed by the next read of the cycle. Returns set-up
        seconds: the median bulk load plus preparation and warm-up."""
        import pyarrow.parquet as pq
        from tinyflux_spark import TinyFluxSpark

        rows = gen.make_rows(random.Random(self.seed), self.n_points, gen.T0_US)
        history, topup = rows[:-TOPUP], rows[-TOPUP:]
        src = os.path.join(self.work, "history.parquet")
        pq.write_table(gen.rows_to_arrow(history), src)
        loads = []
        for i in range(SETUPS):
            if self.db is not None:
                shutil.rmtree(self.db.storage.path, ignore_errors=True)
            self.model = Model()
            self.model.insert(history)
            t0 = time.perf_counter()
            self.db = TinyFluxSpark(os.path.join(self.work, f"store{i}"),
                                    spark=self.spark, index_tags=INDEX_TAGS,
                                    index_fields=INDEX_FIELDS)
            if self.trace:
                tracing.install_db(self.tracer, self.db)
            df = self.spark.read.parquet(src)
            self.call("insert_dataframe", lambda: self.db.insert_dataframe(df),
                      lambda r: (r, None), points=len(history))
            loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.flush(topup)
        self.update(Pred("window", lo=topup[0][T], hi=topup[-1][T],
                         meas=topup[-1][MEAS]), 1.0)
        first = self.model.times[0]
        self.remove(Pred("range", lo=first, hi=first + HOUR_US))
        self.compact()
        self.check_len()
        rng = random.Random(self.seed * 7919)
        if workload != "ingest_mixed":
            for _ in range(WARMUP_ROUNDS):
                for kind in dict.fromkeys(READ_KINDS):
                    self.read(kind, rng)
        else:
            reads = itertools.cycle(READ_KINDS)
            for i in range(PREFLUSHES):
                size = FLUSH_SIZES[i % len(FLUSH_SIZES)]
                self.flush(gen.make_rows(rng, size, self.model.last_us,
                                         batch0=self.model.next_seq))
                self.read(next(reads), rng)
        setup_s = statistics.median(loads) + time.perf_counter() - t0
        if self.model_hook is not None:
            self.model_hook(self.model)
        # The model's ~100k row tuples are long-lived: keep them out of
        # the cyclic collector's scans during the timed phase.
        gc.collect()
        gc.freeze()
        return setup_s

    # -- timed phases ---------------------------------------------------------
    def _begin(self, seconds: float) -> float:
        """Enter the timed phase; returns its deadline."""
        self.phase = "timed"
        if self.trace:
            self.gc_ms = host.jvm_gc_ms(self.spark)
        return time.perf_counter() + seconds

    def _end(self) -> None:
        if self.trace:
            self.gc_ms = host.jvm_gc_ms(self.spark) - self.gc_ms
        self.phase = "final"
        self.check_len()

    def serve(self, seconds: float) -> None:
        rng = random.Random(self.seed * 31 + 1)
        deadline = self._begin(seconds)
        while time.perf_counter() < deadline:
            for kind in READ_KINDS:
                self.read(kind, rng)
                if time.perf_counter() >= deadline:
                    break
            self.sample_layout()
        self._end()

    def ingest_mixed(self, seconds: float) -> None:
        rng = random.Random(self.seed * 31 + 2)
        m = self.model
        deadline = self._begin(seconds)
        step = 0
        sizes: list = []
        reads = itertools.cycle(READ_KINDS)
        while time.perf_counter() < deadline:
            if not sizes:
                sizes = rng.sample(FLUSH_SIZES, len(FLUSH_SIZES))
            # may compact: the policy's flush count runs on from set-up
            self.flush(gen.make_rows(rng, sizes.pop(), m.last_us,
                                     batch0=m.next_seq))
            last = m.last_us
            self.arrow("arrow_range", Pred("range", lo=last - HOUR_US, hi=last))
            for _ in range(READS_PER_FLUSH):
                self.read(next(reads), rng)
            heavy = HEAVY[step % len(HEAVY)]
            if heavy == "update":
                self.update(Pred("window", lo=last - 10 * MINUTE_US, hi=last,
                                 meas=rng.choice(MEASUREMENTS)), float(step))
            elif heavy == "remove":
                self.remove(Pred("window", lo=last - 2 * MINUTE_US, hi=last,
                                 meas=rng.choice(MEASUREMENTS)))
            else:
                start = rng.randint(m.times[0], m.last_us - 3 * HOUR_US)
                self.bulk(gen.make_rows(rng, BACKFILL_POINTS, start,
                                        batch0=m.next_seq), f"backfill{step}")
            self.sample_layout()
            step += 1
        self._end()

    def analytics(self) -> None:
        """Passes over ``analytics.QUERIES`` on tables made from the
        seed, in a seeded order per pass. Each query is rebuilt (its
        registry ``fn``) and executed (``collect``) as one op, under
        spans ``analytics.build`` and ``analytics.exec``; its answer must
        equal the first pass's. The first pass warms up; the next
        ``ANALYTICS_PASSES`` are measured."""
        import __spark_entry__

        registry = __spark_entry__.queries()
        sf_dir = os.path.join(self.work, "sf")
        analytics.make_tables(random.Random(self.seed), sf_dir)
        rng = random.Random(self.seed * 31 + 3)
        first: dict = {}

        def one(name):
            def run():
                with self.tracer.span("analytics.build"):
                    df = registry[name](self.spark, sf_dir)
                with self.tracer.span("analytics.exec"):
                    return df.collect()

            def expect(rows):
                got = analytics.answer(rows)
                return got, first.setdefault(name, got)

            # streaming micro-batches run under their query's own job
            # group, so the op's jobs are found by time window
            self.call(name, run, expect, by_window=True)

        for p in range(1 + ANALYTICS_PASSES):
            self.phase = "analytics" if p else "analytics_warmup"
            t0 = time.perf_counter()
            for _layer, name in rng.sample(
                    analytics.QUERIES, len(analytics.QUERIES)):
                one(name)
            if p:
                self.pass_s.append(time.perf_counter() - t0)

    # -- results ----------------------------------------------------------------
    def ops_per_s(self) -> float:
        """Checked ops per second of the client's own call time: the
        benchmark's answer checks and layout samples between calls are
        left out."""
        return self.timed_ops / (self.timed_op_ms / 1000)

    def read_p50_ms(self) -> float:
        """Each read kind's median latency, averaged over the kinds. A
        pooled median would jump between the fast kinds (~250 ms) and
        the slow ones (~450 ms) as a short run's mix of kinds shifts."""
        return statistics.fmean(_median(v) for v in self.read_ms.values())

    def end_to_end(self, setup_s: float) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (self.ops_per_s(), "1/s"),
            "read_p50_ms": (self.read_p50_ms(), "ms"),
            "peak_rss_mb": (host.peak_rss_mb(self.spark), "MB"),
            # Time-averaged: the retained MVCC version doubles the bytes
            # after a compaction and shrinks after the next rewrite, so
            # one end-of-run sample would depend on where the run stopped.
            "disk_bytes_per_pt": (statistics.fmean(self.disk_per_pt), "B/pt"),
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        tr.collect_spark()
        layers = tr.layer_times()
        ops = tr.ops
        timed = [o for o in ops if self.op_phase.get(o["id"]) == "timed"]
        reads = [o for o in timed if o["kind"] not in WRITE_KINDS]
        out = {}
        for kind in dict.fromkeys(READ_KINDS + WRITE_KINDS):
            # the timed phase where this workload times the call, else
            # the set-up that makes it
            walls = ([o["wall_ms"] for o in timed if o["kind"] == kind]
                     or [o["wall_ms"] for o in ops if o["kind"] == kind])
            out[f"database.{kind}_ms"] = (_median(walls), "ms")

        def layer_of(name, pool, scale=1.0):
            vals = [layers[o["id"]][name] * scale for o in pool
                    if name in layers.get(o["id"], {})]
            return _median(vals)

        out["queries.compile_us"] = (layer_of("queries.compile", reads, 1000), "us")
        out["database.build_ms"] = (layer_of("database.build", reads), "ms")
        out["storages.read_ms"] = (layer_of("storages.read", reads), "ms")
        arrow = [o for o in reads if o["kind"].startswith("arrow_")]
        out["schema.collect_arrow_ms"] = (layer_of("schema.collect_arrow", arrow), "ms")
        # Share of each read op's wall time that its plan-build
        # (``_filtered``, or the bare storage read) and action spans
        # leave uncovered.
        covered = tr.covered_ms((
            "database.build", "storages.read", "schema.collect_arrow",
            "spark.action", "database.collect_points"))
        gaps = [100.0 * (1.0 - covered.get(o["id"], 0.0) / o["wall_ms"])
                for o in reads]
        out["trace.unexplained_pct"] = (_median(gaps), "%")
        out["trace.unexplained_max_pct"] = (max(gaps, default=0.0), "%")
        out["point.construct_us"] = (_median(self.construct_us), "us")

        def written(kinds, last: bool):
            """(bytes, points) of the timed phase's writes of ``kinds``
            when the workload times them, else of the set-up's (only the
            last one when ``last``: the bulk load is repeated)."""
            ws = [(ph, b, n) for ph, k, b, n in self.write_bytes if k in kinds]
            pool = [w for w in ws if w[0] == "timed"] or (
                ws[-1:] if last else ws)
            return [(b, n) for _, b, n in pool]

        for name, kind in (("bytes_written_per_pt", "insert_multiple"),
                           ("bulk_bytes_written_per_pt", "insert_dataframe")):
            ws = written((kind,), last=True)
            out[f"storages.{name}"] = (
                sum(b for b, _ in ws) / max(1, sum(n for _, n in ws)), "B/pt")
        dml = [b for b, _ in written(("update", "remove"), last=False)]
        out["storages.rewrite_bytes_per_dml"] = (_median(dml), "B")
        out["storages.files"] = (_median(self.files), "count")
        out["storages.versions"] = (_median(self.versions), "count")
        n = max(1, len(timed))

        def per_op(key):
            return sum(o["spark"][key] for o in timed) / n

        out["spark.jobs_per_op"] = (per_op("jobs"), "count")
        out["spark.stages_per_op"] = (per_op("stages"), "count")
        out["spark.tasks_per_op"] = (per_op("tasks"), "count")
        out["spark.executor_run_ms_per_op"] = (per_op("run_ms"), "ms")
        out["spark.executor_cpu_ms_per_op"] = (per_op("cpu_ms"), "ms")
        out["spark.input_bytes_per_op"] = (per_op("input_bytes"), "B")
        out["spark.shuffle_write_bytes_per_op"] = (
            per_op("shuffle_write_bytes"), "B")
        # JVM-wide collector time (driver and local executors share the
        # JVM); task-level GC time misses collections between tasks.
        out["spark.gc_ms_per_op"] = (self.gc_ms / n, "ms")
        out["spark.driver_ms_per_op"] = (per_op("driver_ms"), "ms")
        # The traced run's own throughput and read median: set beside
        # the untraced run's ops_per_s and read_p50_ms they give the
        # tracing overhead.
        out["trace.ops_per_s"] = (self.ops_per_s(), "1/s")
        out["trace.read_p50_ms"] = (self.read_p50_ms(), "ms")
        out["trace.read_p90_ms"] = (
            _p90([x for v in self.read_ms.values() for x in v]), "ms")
        out["analytics.pass_s"] = (_median(self.pass_s), "s")
        measured = [o for o in ops if self.op_phase.get(o["id"]) == "analytics"]
        for layer, name in analytics.QUERIES:
            mine = [o for o in measured if o["kind"] == name]
            out[f"{layer}.{name}.build_ms"] = (layer_of("analytics.build", mine), "ms")
            out[f"{layer}.{name}.exec_ms"] = (layer_of("analytics.exec", mine), "ms")
            out[f"{layer}.{name}.jobs"] = (
                _median([o["spark"]["jobs"] for o in mine]), "count")
        return out


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    if len(xs) < 2:
        return _median(xs)
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])
