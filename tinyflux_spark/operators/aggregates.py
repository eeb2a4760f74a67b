"""Aggregation / window / join operators (the analytics the reference's
notebook performs in driver-side Python, reference
examples/2_analytics_workflow.ipynb, made distributed).

Scale notes baked into each operator:

* ``decimal_sum`` — SUM over doubles is order-sensitive in the last ulp
  and partial aggregation makes the order nondeterministic; routing
  through DECIMAL makes the sum exact and therefore reproducible across
  cluster sizes (a correctness property, not a style choice).
* ``moving_avg``/``top_k`` — explicit partition keys; an unpartitioned
  Window is a single-task bottleneck at scale and is only acceptable on
  already-aggregated small frames (one row per day/group).
* ``asof_join`` — union + last(ignorenulls) over a per-key ordered
  window: one shuffle on the key, zero row explosion. The classic
  range-join formulation explodes to |left|x|right| per key and dies at
  scale; the per-group pd.merge_asof alternative serializes through
  Python. This formulation is pure JVM.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decimal_sum(col, precision: int = 18, scale: int = 2) -> Column:
    """Order-insensitive (exact) sum of a double column, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def time_bucket(
    df: DataFrame,
    ts_col: str,
    duration: str,
    agg_exprs: Sequence[Column],
    group_cols: Sequence[str] = (),
    slide: Optional[str] = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) window rollup.

    Returns bucket_start/bucket_end + groups + aggregates. Pure
    groupBy-window: partial aggregation map-side, one shuffle.
    """
    w = (
        F.window(ts_col, duration, slide)
        if slide
        else F.window(ts_col, duration)
    )
    out = df.groupBy(w.alias("_w"), *[F.col(c) for c in group_cols]).agg(
        *agg_exprs
    )
    return out.select(
        F.col("_w.start").alias("bucket_start"),
        F.col("_w.end").alias("bucket_end"),
        *[c for c in out.columns if c != "_w"],
    )


def moving_avg(
    df: DataFrame,
    order_col: str,
    value_col: str,
    window_rows: int,
    partition_cols: Sequence[str] = (),
    out_col: str = "moving_avg",
) -> DataFrame:
    """Trailing ``window_rows``-row moving average (the reference
    notebook's 7-day moving average, as a Window spec)."""
    w = (
        Window.partitionBy(*partition_cols)
        if partition_cols
        else Window.partitionBy()
    )
    w = w.orderBy(order_col).rowsBetween(-(window_rows - 1), 0)
    return df.withColumn(out_col, F.avg(value_col).over(w))


def top_k(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group via row_number — shuffles once on the
    partition keys; no global sort."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] = (),
    inclusive: bool = True,
) -> DataFrame:
    """For each left row, attach the most recent right row at-or-before
    (``inclusive``) its timestamp, matched on ``on``.

    Implementation: tag both sides, union, and carry the latest right
    values forward with last(ignorenulls) over a per-key time-ordered
    window; then keep left rows. One shuffle on ``on``; linear state.
    """
    rcols = list(right_cols) or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("_r_ts"),
        *[F.col(c).alias(f"_r_{c}") for c in rcols],
    )
    lcols = [c for c in left.columns if c not in (on, left_ts)]
    l = left.select(  # noqa: E741
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_r_ts"].dataType).alias("_r_ts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
            for c in rcols
        ],
        *[F.col(c) for c in lcols],
    )
    r = r.select(
        *[F.col(c) for c in [on, "_ts", "_side", "_r_ts"]],
        *[F.col(f"_r_{c}") for c in rcols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    # At equal timestamps the right row sorts first iff inclusive, so it
    # is visible to the left row's frame.
    order = [F.col("_ts"), F.col("_side").asc() if inclusive else F.col("_side").desc()]
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = r.unionByName(l).select(
        "*",
        F.last("_r_ts", ignorenulls=True).over(w).alias("_asof_ts"),
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in rcols
        ],
    )
    return (
        carried.where(F.col("_side") == 1)
        .select(
            F.col(on),
            F.col("_ts").alias(left_ts),
            *[F.col(c) for c in lcols],
            F.col("_asof_ts").alias(f"{right_ts}_asof"),
            *[F.col(f"{c}_asof") for c in rcols],
        )
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    time_col: str,
    gap_seconds: float,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign gap-based session ids per key (gaps-and-islands).

    A new session starts when the time since the key's previous event
    exceeds ``gap_seconds``. One shuffle on ``key_col``; the running
    sum is a single window pass (no self-join). Session ids are
    1-based and contiguous per key.

    This is the batch equivalent of Structured Streaming's
    ``session_window`` (see streaming.ingest.session_rollup).
    """
    w = Window.partitionBy(key_col).orderBy(time_col)
    t = F.col(time_col).cast("timestamp").cast("double")
    prev = F.lag(t).over(w)
    is_new = F.when(
        prev.isNull() | ((t - prev) > F.lit(float(gap_seconds))), 1
    ).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def session_stats(
    df: DataFrame,
    key_col: str,
    time_col: str,
    gap_seconds: float,
) -> DataFrame:
    """Per-session bounds and event counts:
    (key, session_id, session_start, session_end, n_events)."""
    s = sessionize(df, key_col, time_col, gap_seconds)
    return s.groupBy(key_col, "session_id").agg(
        F.min(time_col).alias("session_start"),
        F.max(time_col).alias("session_end"),
        F.count("*").alias("n_events"),
    )


def ewma_last(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
    max_series_rows: int = 1_000_000,
) -> DataFrame:
    """Per-key FINAL exponentially-weighted moving average.

    ewma_0 = v_0; ewma_i = alpha*v_i + (1-alpha)*ewma_{i-1} over the
    key's time-ordered series. One shuffle on the key; the recurrence
    folds over the in-row collected series, so a key's WHOLE series
    must fit in one row. That makes this the bounded-series variant:
    ``ewma_running`` (Arrow grouped-map, streams each key through
    pandas) and ``streaming.stateful_ewma`` (constant state per key)
    are the unbounded-scale paths. ``max_series_rows`` enforces the
    boundedness at execution time — a key whose series exceeds it
    fails with an actionable pointer to the scalable variants rather
    than succeeding on a silently-oversized row (set ``None`` to
    disable). Expressible in any engine with an ordered-list fold, so
    it stays oracle-checkable.
    """
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(time_col).alias("t"), F.col(value_col).alias("v"))
            )
        ),
        lambda s: s["v"],
    )
    a = F.lit(float(alpha))
    fold = F.aggregate(
        ordered,
        F.lit(None).cast("double"),
        lambda acc, v: F.when(acc.isNull(), v.cast("double")).otherwise(
            a * v.cast("double") + (F.lit(1.0) - a) * acc
        ),
    )
    agg = df.groupBy(key_col).agg(
        fold.alias("ewma"), F.count(F.lit(1)).alias("_n")
    )
    if max_series_rows is not None:
        guarded = F.when(
            F.col("_n") > int(max_series_rows),
            F.raise_error(
                F.concat(
                    F.lit("ewma_last: series for key "),
                    F.col(key_col).cast("string"),
                    F.lit(
                        f" exceeds max_series_rows={int(max_series_rows)};"
                        " use ewma_running or streaming.stateful_ewma"
                        " for unbounded series"
                    ),
                )
            ).cast("double"),
        ).otherwise(F.col("ewma"))
    else:
        guarded = F.col("ewma")
    return agg.select(key_col, guarded.alias("ewma"))


def holt_last(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    max_series_rows: int = 1_000_000,
) -> DataFrame:
    """Per-key FINAL Holt double-exponential smoothing (level +
    linear trend) — :func:`ewma_last`'s forecasting sibling:

    ``l_0 = v_0, b_0 = 0``;
    ``l_i = alpha*v_i + (1-alpha)*(l_{i-1} + b_{i-1})``;
    ``b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}``

    over the key's time-ordered series. Returns one row per key:
    ``(key, level, trend, forecast)`` with ``forecast = level +
    trend`` (the one-step-ahead prediction — the quantity an
    IoT/metrics pipeline alerts on when the next reading deviates).

    Same execution contract as ``ewma_last``: ONE shuffle on the key,
    the coupled recurrence folds JVM-side over the in-row collected
    series with a struct ``(l, b)`` accumulator — so a key's whole
    series must fit in one row, enforced by ``max_series_rows``
    with an actionable error. Every step is the same IEEE double
    arithmetic in the same order in any engine (the oracle replays it
    with a recursive CTE), rounded at the END only.
    """
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(time_col).alias("t"),
                    F.col(value_col).alias("v"),
                )
            )
        ),
        lambda s: s["v"],
    )
    a = F.lit(float(alpha))
    bt = F.lit(float(beta))
    init = F.struct(
        F.lit(None).cast("double").alias("l"),
        F.lit(None).cast("double").alias("b"),
    )

    def step(acc, v):
        newl = a * v.cast("double") + (F.lit(1.0) - a) * (
            acc["l"] + acc["b"]
        )
        newb = bt * (newl - acc["l"]) + (F.lit(1.0) - bt) * acc["b"]
        return F.when(
            acc["l"].isNull(),
            F.struct(
                v.cast("double").alias("l"),
                F.lit(0.0).alias("b"),
            ),
        ).otherwise(F.struct(newl.alias("l"), newb.alias("b")))

    fold = F.aggregate(ordered, init, step)
    agg = df.groupBy(key_col).agg(
        fold.alias("_hb"), F.count(F.lit(1)).alias("_n")
    )
    level = F.col("_hb")["l"]
    trend = F.col("_hb")["b"]
    if max_series_rows is not None:
        level = F.when(
            F.col("_n") > int(max_series_rows),
            F.raise_error(
                F.concat(
                    F.lit("holt_last: series for key "),
                    F.col(key_col).cast("string"),
                    F.lit(
                        f" exceeds max_series_rows={int(max_series_rows)};"
                        " fold the series through ewma_running-style"
                        " Arrow batches for unbounded series"
                    ),
                )
            ).cast("double"),
        ).otherwise(level)
    return agg.select(
        key_col,
        F.round(level, 6).alias("level"),
        F.round(trend, 6).alias("trend"),
        F.round(level + trend, 6).alias("forecast"),
    )


def holt_winters_last(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 4,
    phi: float = 1.0,
    max_series_rows: int = 1_000_000,
    round_digits: Optional[int] = 6,
) -> DataFrame:
    """Per-key FINAL additive Holt-Winters triple exponential
    smoothing (level + linear trend + seasonal indices with period
    ``m``) — the seasonal completion of :func:`holt_last` and the
    standard IoT/metrics forecast for daily/weekly-cycling series.

    Initialization (deterministic, SQL-replayable): the first full
    season seeds the state —
    ``l = mean(v_0..v_{m-1})``, ``b = 0``, ``s_j = v_j - l``;
    then for ``i >= m`` the coupled three-term recurrence runs over
    the time-ordered series (``phi`` shown; the default ``phi=1.0``
    reduces every ``phi*b`` to ``b`` bit-exactly — IEEE ``1.0*x ==
    x`` — so undamped callers are unchanged):

    ``l_i = alpha*(v_i - s_{i-m}) + (1-alpha)*(l_{i-1} + phi*b_{i-1})``;
    ``b_i = beta*(l_i - l_{i-1}) + (1-beta)*(phi*b_{i-1})``;
    ``s_i = gamma*(v_i - l_i) + (1-gamma)*s_{i-m}``

    ``phi`` in (0, 1] is Gardner-McKenzie trend DAMPING — the
    standard guard against linear-trend overshoot on long horizons
    (an h-step damped forecast adds ``(phi + ... + phi^h)*b``, which
    saturates instead of growing without bound); ``phi < 1`` shrinks
    the carried trend at every step of the recurrence itself.

    Returns one row per key: ``(key, level, trend, season,
    forecast)`` where ``season`` is the seasonal index the NEXT
    reading lands on and ``forecast = level + phi*trend + season`` —
    the seasonal (damped) one-step-ahead prediction.

    Same execution contract as ``holt_last``: ONE shuffle on the
    key, the fold runs JVM-side over the in-row collected series
    with a struct ``(i, l, b, s[m], buf)`` accumulator (the seasonal
    ring updates via an indexed ``transform`` — O(m) per element,
    m is small), bounded by ``max_series_rows`` with an actionable
    error. A key with fewer than one full season cannot initialize
    and raises (actionable: drop short keys first or shrink
    ``period``). Every step is the same IEEE double arithmetic in
    the same order in any engine — the q132/q133/q136 oracles replay
    the recurrence with a recursive CTE carrying the m seasonal
    columns (and, damped, the explicit ``phi*b`` products) —
    rounded at the END only (``round_digits=None`` returns the raw
    IEEE doubles — for callers that ship engine-portable integer
    micro-units instead of a decimal rounding, q60's convention).
    """
    if period < 2:
        raise ValueError("holt_winters_last: period must be >= 2")
    if not (0.0 < phi <= 1.0):
        raise ValueError("holt_winters_last: phi must be in (0, 1]")
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(time_col).alias("t"),
                    F.col(value_col).alias("v"),
                )
            )
        ),
        lambda s: s["v"],
    )
    a = F.lit(float(alpha))
    bt = F.lit(float(beta))
    g = F.lit(float(gamma))
    ph = F.lit(float(phi))
    m = int(period)
    m_lit = F.lit(m)
    empty = F.array().cast("array<double>")
    init = F.struct(
        F.lit(0).alias("i"),
        F.lit(None).cast("double").alias("l"),
        F.lit(None).cast("double").alias("b"),
        empty.alias("s"),
        empty.alias("buf"),
    )

    def step(acc, v):
        v = v.cast("double")
        i = acc["i"]
        buf2 = F.concat(acc["buf"], F.array(v))
        # sequential left-fold mean: (((0+v0)+v1)+...)/m — the same
        # addition order the oracle writes out literally
        l0 = (
            F.aggregate(buf2, F.lit(0.0), lambda s_, x: s_ + x) / m_lit
        )
        s_init = F.transform(buf2, lambda x: x - l0)
        lag = F.element_at(acc["s"], (i % m_lit) + F.lit(1))
        # phi*b written as an explicit product (never folded away):
        # the oracle pastes the same product, and at phi=1.0 IEEE
        # guarantees 1.0*b == b, keeping the undamped oracles exact
        phb = ph * acc["b"]
        newl = a * (v - lag) + (F.lit(1.0) - a) * (acc["l"] + phb)
        newb = bt * (newl - acc["l"]) + (F.lit(1.0) - bt) * phb
        snew = g * (v - newl) + (F.lit(1.0) - g) * lag
        s_upd = F.transform(
            acc["s"],
            lambda x, j: F.when(j == i % m_lit, snew).otherwise(x),
        )
        return (
            F.when(
                i < m_lit - F.lit(1),
                F.struct(
                    (i + F.lit(1)).alias("i"),
                    acc["l"].alias("l"),
                    acc["b"].alias("b"),
                    acc["s"].alias("s"),
                    buf2.alias("buf"),
                ),
            )
            .when(
                i == m_lit - F.lit(1),
                F.struct(
                    (i + F.lit(1)).alias("i"),
                    l0.alias("l"),
                    F.lit(0.0).alias("b"),
                    s_init.alias("s"),
                    empty.alias("buf"),
                ),
            )
            .otherwise(
                F.struct(
                    (i + F.lit(1)).alias("i"),
                    newl.alias("l"),
                    newb.alias("b"),
                    s_upd.alias("s"),
                    acc["buf"].alias("buf"),
                )
            )
        )

    fold = F.aggregate(ordered, init, step)
    agg = df.groupBy(key_col).agg(
        fold.alias("_hw"), F.count(F.lit(1)).alias("_n")
    )
    level = F.col("_hw")["l"]
    trend = F.col("_hw")["b"]
    # try_element_at: for a shorter-than-one-season key the s array is
    # empty and a plain element_at would raise ITS error before the
    # actionable raise_error guard on `level` gets a chance to.
    season = F.try_element_at(
        F.col("_hw")["s"],
        ((F.col("_n") % m_lit) + F.lit(1)).cast("int"),
    )
    level = F.when(
        F.col("_n") < m_lit,
        F.raise_error(
            F.concat(
                F.lit("holt_winters_last: series for key "),
                F.col(key_col).cast("string"),
                F.lit(
                    f" is shorter than one season (period={m}); "
                    "drop short keys first or shrink period"
                ),
            )
        ).cast("double"),
    ).otherwise(level)
    if max_series_rows is not None:
        level = F.when(
            F.col("_n") > int(max_series_rows),
            F.raise_error(
                F.concat(
                    F.lit("holt_winters_last: series for key "),
                    F.col(key_col).cast("string"),
                    F.lit(
                        f" exceeds max_series_rows={int(max_series_rows)};"
                        " fold the series through stateful_holt_winters"
                        " micro-batches for unbounded series"
                    ),
                )
            ).cast("double"),
        ).otherwise(level)
    def _r(c):
        return c if round_digits is None else F.round(c, round_digits)

    return agg.select(
        key_col,
        _r(level).alias("level"),
        _r(trend).alias("trend"),
        _r(season).alias("season"),
        _r(level + ph * trend + season).alias("forecast"),
    )


def ewma_running(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-row running EWMA via Arrow grouped-map (applyInPandas).

    The recurrence isn't a frame-based window aggregate, so this is a
    legitimate Pandas-UDF case: pandas ewm(adjust=False) vectorizes the
    scan per key, Arrow moves the batches. Output: key, time, value,
    ewma.
    """
    import pandas as pd  # noqa: F401

    schema = (
        f"{key_col} string, {time_col} timestamp, "
        f"{value_col} double, ewma double"
    )

    def fn(pdf):
        pdf = pdf.sort_values(time_col)
        out = pdf[[key_col, time_col, value_col]].copy()
        out[key_col] = out[key_col].astype(str)
        out["ewma"] = (
            pdf[value_col].astype(float).ewm(alpha=alpha, adjust=False).mean()
        )
        return out

    return df.groupBy(key_col).applyInPandas(fn, schema)


def value_deciles(
    df: DataFrame, value_col: str, k: int = 10
) -> DataFrame:
    """Exact k-quantile profile of a numeric column, distributed.

    Output: one row per bucket with (bucket, n_rows, min_val, max_val),
    where ``bucket(v) = min(k-1, floor(k * rows_strictly_below(v) /
    total))`` — a value-based bucketing (rows sharing a value share a
    bucket), which is the property a dataset profiler wants.

    Scale design: a naive ``ntile(k) OVER (ORDER BY v)`` is a GLOBAL
    sort — one task holds the corpus. Here the corpus is first reduced
    to a value histogram (``groupBy(v).count()``, map-side combined;
    |distinct values| rows, bounded for any real numeric feature), the
    cumulative window then runs over the *histogram*, and bucket stats
    aggregate histogram rows. The only single-partition step touches
    |distinct| rows, never |corpus|.
    """
    c = F.col(value_col)
    hist = df.groupBy(c.alias("v")).agg(F.count("*").alias("c"))
    w_cum = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(F.lit(1))
    cum = hist.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("below"),
        F.sum("c").over(w_all).alias("total"),
    )
    bucket = F.least(
        F.lit(k - 1),
        F.floor(F.lit(k) * F.col("below") / F.col("total")),
    )
    return (
        cum.select(bucket.alias("bucket"), "v", "c")
        .groupBy("bucket")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
        )
    )


def percentile_summary(
    df: DataFrame,
    key_col: str,
    value_col: str,
    pcts=(0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Exact per-key percentiles (linear interpolation between order
    statistics — the ANSI PERCENTILE_CONT definition both Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` implement).

    Exact, not approx_percentile: profiling a training corpus or SLA
    report wants reproducible numbers, and Spark's exact percentile
    aggregates per group without a global sort. One shuffle on the key.
    Column names: p25, p50, ... (percentage with the dot stripped).
    """
    aggs = []
    for p in pcts:
        label = f"p{str(float(p) * 100).rstrip('0').rstrip('.').replace('.', '_')}"
        aggs.append(
            F.round(F.percentile(F.col(value_col), F.lit(float(p))), 6)
            .alias(label)
        )
    return df.groupBy(key_col).agg(
        *aggs, F.count(F.col(value_col)).alias("n")
    )


def _has_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def _row_hash(df: DataFrame) -> Column:
    """xxhash64 of a row, for routing only. Columns holding a map are
    left out: Spark refuses to hash maps (``HASH_MAP_TYPE``)."""
    return F.xxhash64(*[
        F.col(f.name) for f in df.schema.fields if not _has_map(f.dataType)
    ])


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
    keys: Sequence[str] = (),
    broadcast_points: bool = False,
) -> DataFrame:
    """Inner-join each point row to every interval row whose
    ``[start_col, end_col]`` range contains its ``point_col`` value
    (optionally also matching equi ``keys``) — the "what was active at
    time t" join (points in maintenance windows, events in sessions,
    shipments in transit on a date).

    The naive formulation — ``ON p BETWEEN s AND e`` with no equi key —
    is a nested-loop O(|points| x |intervals|) plan that dies at scale.
    This is the bucketed range join instead: quantize the domain into
    ``bin_width``-sized bins, explode each interval into the bins it
    covers, and equi-join on the bin. A point lies in exactly one bin,
    so every qualifying (point, interval) pair meets in exactly that
    bin — once, no dedup pass. The residual ``BETWEEN`` filter runs on
    candidates only.

    Cost model: intervals replicate ceil(span / bin_width) + 1 times,
    so pick ``bin_width`` near the typical interval span (replication
    ~2x). ``broadcast_points=True`` broadcasts the point side (right
    for a distinct-dates or window-list side), making the join
    shuffle-free; otherwise both sides shuffle on (keys..., bin) and
    AQE handles bin skew.

    Columns: all point columns plus all interval columns; the two
    sides must not share column names outside ``keys``. Inverted
    intervals (end < start) are dropped, matching ``BETWEEN``.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    overlap = set(points.columns) & set(intervals.columns) - set(keys)
    if overlap:
        raise ValueError(
            f"point/interval column collision outside keys: {overlap}"
        )
    # "_bin" is this operator's internal routing column; withColumn
    # would silently OVERWRITE a caller column of the same name and
    # produce wrong join results instead of an error.
    taken = set(points.columns) | set(intervals.columns)
    if "_bin" in taken:
        raise ValueError(
            "'_bin' is reserved by interval_join; rename the input "
            "column"
        )
    p = points.withColumn(
        "_bin", F.floor(F.col(point_col) / bin_width).cast("long")
    )
    iv_src = intervals.where(F.col(end_col) >= F.col(start_col))
    if broadcast_points:
        # With the point side broadcast there is no exchange anywhere:
        # the interval explode + probe + residual run on the scan's own
        # partitioning, which on single-row-group inputs is one task
        # per file. Widen it (no-op on well-partitioned inputs); the
        # non-broadcast path shuffles on (keys, _bin) and needs no help.
        # Hashed on a full-row xxhash64, not on (start, end) and not
        # round-robin: (start, end) lets an interval table dominated by
        # few distinct ranges hash back into few partitions (ADVICE
        # r12), while a keyless round-robin pays the
        # sortBeforeRepartition local sort — measured +30% on q84 in
        # r13. The row hash is deterministic (layout-invariant, the
        # salted_join trick), full-entropy, and row placement is
        # immaterial to this join.
        from ._spread import spread_scan

        iv_src = spread_scan(iv_src, _row_hash(iv_src))
    iv = iv_src.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bin_width).cast("long"),
                F.floor(F.col(end_col) / bin_width).cast("long"),
            )
        ),
    )
    if broadcast_points:
        p = F.broadcast(p)
    joined = iv.join(p, [*keys, "_bin"]).where(
        F.col(point_col).between(F.col(start_col), F.col(end_col))
    )
    return joined.drop("_bin")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for when BOTH sides are too large to
    broadcast and the join key is skewed: a hot key (one giant
    customer, one dominant event type) otherwise lands its entire row
    mass in a single shuffle partition and the stage runs at the speed
    of that one straggler task.

    Classic salting: every left row picks one of ``n_salts`` salt
    values (from a hash of the full row — layout-invariant, and since
    the salt only routes rows, not results, any distribution is
    correct); every right row is replicated to ALL ``n_salts`` values;
    the join runs on ``(keys..., salt)``, spreading each hot key over
    ``n_salts`` partitions. Each left row meets each matching right
    row exactly once (at the left row's salt copy), so the result
    equals the unsalted join for ``inner`` and ``left`` — at the price
    of an ``n_salts``x replication of the right side's shuffle volume.
    Use it when AQE's skew-join split (which only splits oversized
    partitions post-shuffle) is unavailable or insufficient; prefer
    ``broadcast`` whenever one side fits.

    ``how``: ``inner`` or ``left`` (semantics preserved: an unmatched
    left row exists once, under its one salt).
    """
    if n_salts <= 0:
        raise ValueError("n_salts must be positive")
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    # "_salt" is this operator's internal routing column; withColumn
    # would silently OVERWRITE a caller column of the same name (and
    # the left side's salt would then hash over the overwritten value)
    # — wrong join results instead of an error.
    if "_salt" in set(left.columns) | set(right.columns):
        raise ValueError(
            "'_salt' is reserved by salted_join; rename the input "
            "column"
        )
    keys = list(on)
    lsalt = F.pmod(_row_hash(left), F.lit(n_salts)).cast("int")
    l_df = left.withColumn("_salt", lsalt)
    # Widen an under-partitioned big side before the join's map work
    # (no-op when the input already has >= cores partitions, i.e. the
    # at-scale case). Hashing on (keys..., salt) is exactly the
    # skew-safe distribution this operator exists to create — never
    # on the bare keys, which would rebuild the hot-key pileup.
    from ._spread import spread_scan

    l_df = spread_scan(l_df, *keys, "_salt")
    r_df = right.withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")
        ),
    )
    return l_df.join(r_df, [*keys, "_salt"], how).drop("_salt")


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    gap: int = 0,
) -> DataFrame:
    """Coalesce each key's overlapping (or within-``gap``-adjacent)
    intervals into maximal disjoint periods — the classic interval-union
    pass behind uptime/coverage analysis, sensor-online windows,
    maintenance-window normalization, and pre-densifying inputs for
    :func:`interval_join` (fewer, wider intervals → less bin
    replication).

    An interval opens a new period iff its start exceeds the running
    maximum end of every earlier interval (ordered by start) by more
    than ``gap``. Both window frames are running frames — O(n) linear
    state per key, one shuffle on ``key_col``, no per-row rescan — and
    the period id is a running sum, so the whole pass is two window
    functions and one aggregation.

    Inverted rows (end < start) are dropped. Returns one row per
    merged period: ``key, period, start, end, n_merged``.
    """
    w = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prev_max_end.isNull()
        | (F.col(start_col) > prev_max_end + gap),
        1,
    ).otherwise(0)
    grp = F.sum(opens).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    # Pin the window's width: its shuffle is small in bytes but the
    # sort + two running frames are per-row compute, and AQE's
    # byte-targeted coalescing under-parallelizes it (see
    # pin_group_width). The explicit hash repartition satisfies the
    # window's required distribution, so it REPLACES the window's own
    # exchange — same shuffle count.
    from ._spread import pin_group_width

    return (
        pin_group_width(
            df.where(F.col(end_col) >= F.col(start_col)), key_col
        )
        .withColumn("_period", grp)
        .groupBy(F.col(key_col).alias("key"), F.col("_period").alias("period"))
        .agg(
            F.min(start_col).alias("start"),
            F.max(end_col).alias("end"),
            F.count("*").alias("n_merged"),
        )
    )
