"""Scale-adaptive input widening for compute-heavy operators.

A parquet scan can never produce more non-empty splits than the input
has row groups: a corpus delivered as single-row-group files (this
repo's testdata, or any small-files layout) therefore serializes every
downstream narrow computation onto one task per file, no matter how
many cores the session has — ``spark.sql.files.maxPartitionBytes`` and
friends cannot help, because extra splits of the same row group are
empty. For operators whose cost is per-row compute (per-shingle md5,
gram explodes, embedding arithmetic), that is a 1-core ceiling.

:func:`spread_scan` widens such inputs with one explicit repartition,
but ONLY when the input is actually under-parallelized: when the
physical scan already has at least ``defaultParallelism`` partitions —
the 100 TB case, where the corpus arrives as thousands of splits — it
is a no-op, so no production shuffle is ever added.

The width check itself (how many partitions does this plan yield?) is
driver-side physical planning (``df.rdd``), ~50-100 ms per distinct
plan and unbounded on very large plans. It is therefore MEMOIZED on
the analyzed plan's semantic hash: serving paths that rebuild the same
operator per query (new query literals, same corpus/index subtree
under the spread) pay the planning once per process, not per call
(VERDICT r12 item: the per-call ``df.rdd`` was per-query driver
latency on q113/q134). The memo holds partition COUNTS, never data —
purely physical, advisory, and process-local: a stale width can only
mis-place one repartition, never change results. It is keyed by
(applicationId, plan hash), so it is application-wide: sessions made
with ``newSession()`` share the SparkContext and its applicationId,
and therefore share entries. A session whose SQL conf changes the
physical width of the same analyzed plan (e.g. a different
``maxPartitionBytes``) can read a stale width; that misplaces at most
one advisory repartition. Only a new SparkContext starts a fresh key
space.

Hash-partitioning on the operator's id column (when given) keeps the
exchange deterministic without the local sort a round-robin
repartition needs (``spark.sql.execution.sortBeforeRepartition``);
row order is immaterial to every caller (aggregations / per-row maps).
"""

from __future__ import annotations

import os
from typing import Union

from pyspark.sql import Column, DataFrame

# (applicationId, analyzed-plan semanticHash) -> physical partition
# count, shared by every session of the application (see the module
# docstring for what a stale entry can and cannot do). Bounded:
# cleared wholesale past _WIDTH_MEMO_MAX (simple and safe — entries
# are one int each; the bound exists only to keep a pathological
# plan-generating loop from growing it without limit).
_WIDTH_MEMO: dict = {}
_WIDTH_MEMO_MAX = 4096


def _plan_width(df: DataFrame):
    """Physical partition count of ``df``, memoized per analyzed plan.

    Returns None when the plan cannot round-trip through the RDD API —
    callers treat that as "leave the input alone"."""
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        key = None
    if key is not None and key in _WIDTH_MEMO:
        return _WIDTH_MEMO[key]
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        # Never let an advisory optimization break the operator.
        return None
    if key is not None:
        if len(_WIDTH_MEMO) >= _WIDTH_MEMO_MAX:
            _WIDTH_MEMO.clear()
        _WIDTH_MEMO[key] = n
    return n


def spread_scan(
    df: DataFrame, *part_cols: Union[str, Column]
) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff its physical
    plan currently yields fewer partitions — the single-row-group /
    small-files escape hatch for compute-bound operators. No-op (and
    no added exchange) on well-partitioned inputs, so it is safe at
    any scale. Pass the operator's id column(s) to use a deterministic
    hash exchange instead of round-robin; each may be a column name
    or a Column expression (``interval_join`` passes a row hash)."""
    # Kill switch for A/B measurement and for deployments whose input
    # layout makes the widening unnecessary (TINYFLUX_SPARK_NO_SPREAD=1).
    if os.environ.get("TINYFLUX_SPARK_NO_SPREAD"):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    n = _plan_width(df)
    if n is None or n >= target:
        return df
    if part_cols:
        return df.repartition(target, *part_cols)
    return df.repartition(target)


def pin_group_width(df: DataFrame, *group_cols: str) -> DataFrame:
    """Pre-shuffle ``df`` by ``group_cols`` at an explicitly pinned
    partition count, for grouped compute (``groupBy().applyInPandas``)
    whose per-group COST is far larger than its per-group BYTES.

    AQE's partition coalescing targets bytes
    (``advisoryPartitionSizeInBytes``): a kilobyte-sized shuffle ahead
    of a compute-heavy grouped map collapses to ONE post-shuffle
    partition and the whole grouped pass serializes on one core. An
    explicit ``repartition(n, cols)`` is exempt from AQE coalescing,
    and because it already satisfies the grouped map's required
    (hash) distribution, it REPLACES the groupBy's own exchange
    rather than adding one — same shuffle count, pinned width.

    The pinned count is ``max(defaultParallelism, input partitions,
    spark.sql.shuffle.partitions)``: at 100 TB the input arrives with
    >= thousands of partitions, so the width matches what the groupBy
    exchange would have used anyway; on small inputs it keeps every
    core eligible instead of one. Including shuffle.partitions in the
    max (ADVICE r12) keeps the pin from capping the reducer count
    BELOW the configured width when a large input happens to arrive
    in few partitions — the pin exists to stop AQE coalescing a
    cheap-bytes/heavy-compute shuffle, never to shrink one."""
    if os.environ.get("TINYFLUX_SPARK_NO_SPREAD"):
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        conf_parts = 0
    n = _plan_width(df)
    if n is None:
        n = 0
    return df.repartition(max(target, n, conf_parts), *group_cols)
