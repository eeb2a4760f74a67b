"""Outside-in tracing: spans around the calls the benchmark makes into
each layer, plus Spark's own job/stage figures per operation.

Nothing here edits the program. In a traced run the benchmark wraps a
few program entry points on the objects it owns (the store handle, its
storage, the query objects it builds) and, through ``install``, two
module-level functions and four ``DataFrame`` actions; every wrapper
records a span ``(name, start, end, parent, op_id)`` into memory. Spark
figures come from the job group the benchmark sets around each public
call, read through ``statusTracker()`` and the status store with the UI
disabled. ``write`` dumps everything at the end.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []  # [name, start, end, parent, op_id]
        self.ops: list = []  # one dict per public call
        self._stack: list = []
        self._op = None
        self._next_op = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if self._op is None or not self._op["traced"]:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self._op["id"]])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return inner

    def wrap_attr(self, obj, attr: str, name: str):
        """Shadow ``obj.attr`` with a spanning wrapper (instance or module)."""
        setattr(obj, attr, self.wrap(name, getattr(obj, attr)))

    # -- operations ----------------------------------------------------
    @contextmanager
    def op(self, kind: str, traced: bool, by_window: bool = False):
        """One public call. A traced op runs under its own job group and
        records spans; an untraced one records only its wall time. The
        jobs of a ``by_window`` op are instead the jobs submitted while
        it ran, for calls that start jobs in threads of their own (a
        streaming query runs its micro-batches under its own group)."""
        rec = {"id": self._next_op, "kind": kind, "traced": traced,
               "by_window": by_window}
        self._next_op += 1
        if traced:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], kind)
        self._op = rec
        rec["start_epoch_ms"] = time.time() * 1000
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000
            rec["end_epoch_ms"] = rec["start_epoch_ms"] + rec["wall_ms"]
            self._op = None
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.ops.append(rec)

    # -- Spark figures -------------------------------------------------
    def collect_spark(self) -> None:
        """Attach job/stage/task figures to every traced op. Called once
        at the end of the run, after the listener bus has drained, so the
        reads cost nothing inside any timed span."""
        from py4j.protocol import Py4JError

        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # private API: fall back to a pause
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        traced = [rec for rec in self.ops if rec["traced"]]
        grouped = {rec["id"]: list(tracker.getJobIdsForGroup(rec["group"]))
                   for rec in traced if not rec["by_window"]}
        windowed = self._jobs_by_window(
            store, [rec for rec in traced if rec["by_window"]],
            1 + max((j for ids in grouped.values() for j in ids), default=-1))
        for rec in traced:
            figs = dict(jobs=0, stages=0, tasks=0, run_ms=0.0, cpu_ms=0.0,
                        input_bytes=0, shuffle_write_bytes=0, task_gc_ms=0.0)
            intervals = []
            for jid in grouped.get(rec["id"]) or windowed.get(rec["id"], ()):
                figs["jobs"] += 1
                try:
                    jd = store.job(jid)
                    sub, comp = jd.submissionTime(), jd.completionTime()
                    if sub.isDefined() and comp.isDefined():
                        intervals.append(
                            (sub.get().getTime(), comp.get().getTime())
                        )
                except Py4JError:  # evicted from the status store
                    pass
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JError:  # a skipped stage never ran
                        continue
                    figs["stages"] += 1
                    figs["tasks"] += sd.numCompleteTasks()
                    figs["run_ms"] += sd.executorRunTime()
                    figs["cpu_ms"] += sd.executorCpuTime() / 1e6
                    figs["input_bytes"] += sd.inputBytes()
                    figs["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    figs["task_gc_ms"] += sd.jvmGcTime()
            figs["job_ms"] = _union_ms(intervals, rec["start_epoch_ms"],
                                       rec["end_epoch_ms"])
            figs["driver_ms"] = max(0.0, rec["wall_ms"] - figs["job_ms"])
            rec["spark"] = figs

    @staticmethod
    def _jobs_by_window(store, recs, first_jid: int) -> dict:
        """op id -> ids of the jobs submitted during that op, for
        ``recs`` (which run after every grouped op). Job ids are
        assigned in sequence, so the walk starts past the last grouped
        job and ends at the first id the status store does not hold."""
        from py4j.protocol import Py4JError

        out: dict = {}
        if not recs:
            return out
        jid = first_jid
        while True:
            try:
                sub = store.job(jid).submissionTime()
            except Py4JError:  # past the last job
                return out
            if sub.isDefined():
                t = sub.get().getTime()
                for rec in recs:
                    # the store keeps whole milliseconds
                    if rec["start_epoch_ms"] - 1 < t <= rec["end_epoch_ms"]:
                        out.setdefault(rec["id"], []).append(jid)
                        break
            jid += 1

    # -- per-op layer times --------------------------------------------
    def layer_times(self) -> dict:
        """op id -> {span name: summed duration ms of its outermost spans
        of that name} for traced ops."""
        out: dict = {}
        for name, s, e, parent, op_id in self.spans:
            if e is None:
                continue
            # outermost only: skip a span nested in one of the same name
            p = parent
            nested = False
            while p is not None:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][3]
            if nested:
                continue
            d = out.setdefault(op_id, {})
            d[name] = d.get(name, 0.0) + (e - s) * 1000
        return out

    def covered_ms(self, names) -> dict:
        """op id -> ms covered by the union of its spans named in
        ``names`` (nested spans of those names count once)."""
        by_op: dict = {}
        for name, s, e, _parent, op_id in self.spans:
            if e is not None and name in names:
                by_op.setdefault(op_id, []).append((s * 1000, e * 1000))
        inf = float("inf")
        return {k: _union_ms(v, -inf, inf) for k, v in by_op.items()}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans_columns": ["name", "start_s", "end_s", "parent", "op_id"],
                "spans": self.spans,
                "ops": self.ops,
                **extra,
            }, f)


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install(tracer: Tracer, spark) -> None:
    """Wrap the module-level program entry points and the ``DataFrame``
    actions the per-layer metrics are read from, once per process. Only
    a traced run calls this; wrappers record nothing outside a traced op."""
    import tinyflux_spark.schema as schema_mod
    import tinyflux_spark.storages as storages_mod

    tracer.wrap_attr(schema_mod, "collect_arrow_batches", "schema.collect_arrow")
    tracer.wrap_attr(storages_mod, "points_to_df", "schema.points_to_df")
    # the session's concrete DataFrame class: it overrides the actions
    # of the public ``pyspark.sql.DataFrame`` base
    frame = type(spark.range(0))
    for action in ("count", "collect", "take", "toPandas"):
        tracer.wrap_attr(frame, action, "spark.action")


def install_db(tracer: Tracer, db) -> None:
    """Wrap the entry points of one store handle and its storage."""
    st = db.storage
    tracer.wrap_attr(db, "_filtered", "database.build")
    tracer.wrap_attr(db, "_collect_points", "database.collect_points")
    tracer.wrap_attr(st, "read", "storages.read")
    tracer.wrap_attr(st, "append_points", "storages.append")
    tracer.wrap_attr(st, "append_df", "storages.append")
    tracer.wrap_attr(st, "overwrite", "storages.overwrite")
    tracer.wrap_attr(st, "_clone_version", "storages.clone")
    tracer.wrap_attr(st, "_commit_version", "storages.commit")
