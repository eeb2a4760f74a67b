"""Canonical Spark schema and session helpers.

The reference is schemaless (every CSV row carries its own key set —
reference tinyflux/storages.py, docs/source/design-principles.rst:29-31).
The Spark-native equivalent that preserves schemalessness while staying
columnar is a fixed 4-column frame with MapType tag/field columns:

    time        TIMESTAMP  (session TZ pinned to UTC, mirroring the
                            reference's UTC coercion at point.py:246 and
                            database.py:1276)
    measurement STRING     (natural first-level partition column)
    tags        MAP<STRING, STRING>   (value may be NULL)
    fields      MAP<STRING, DOUBLE>   (value may be NULL)

plus an engine-internal `_seq` BIGINT stamped at ingest, which reproduces
the reference's insertion-order guarantees (`get`, `sorted=False` paths,
`get_timestamps` — reference database.py:349-377,560-598). Spark provides
no free row order, so the order is made explicit and durable.

Fields are DoubleType everywhere: the reference's CSV round-trip already
collapses int→float (str(float(v)) at point.py:354), so Double is faithful
to its durable format.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Canonical user-facing schema (SURVEY.md §1.4).
POINT_SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType(), False),
        T.StructField("measurement", T.StringType(), False),
        T.StructField(
            "tags", T.MapType(T.StringType(), T.StringType(), True), False
        ),
        T.StructField(
            "fields", T.MapType(T.StringType(), T.DoubleType(), True), False
        ),
    ]
)

# Internal schema: canonical + durable ingestion-order column.
POINT_SCHEMA_SEQ = T.StructType(
    POINT_SCHEMA.fields + [T.StructField("_seq", T.LongType(), False)]
)

SEQ_COL = "_seq"

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "tinyflux_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Local mode here; on a real cluster the same configs apply except
    master. AQE is on so runtime re-planning (partition coalescing, skew
    joins) handles the 100x scale-up without hand tuning.
    """
    n = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def points_to_arrow(points, seq_start: Optional[int] = None):
    """Points as a ``pyarrow.Table``: ``time`` (UTC microseconds),
    ``measurement``, and the ``tags`` / ``fields`` maps in each Point's
    key order, plus ``_seq`` numbered from ``seq_start`` when given.

    The one Points-to-columns converter: ``points_to_df`` hands its
    table to Spark, and ``ParquetStorage.append_points`` writes it to
    parquet without Spark. Field values go to float like
    ``Point.to_row``.
    """
    import pyarrow as pa

    pts = list(points)
    cols = {
        "time": pa.array([p.time for p in pts], pa.timestamp("us", tz="UTC")),
        "measurement": pa.array([p.measurement for p in pts], pa.string()),
        "tags": pa.array(
            [p.tags for p in pts], pa.map_(pa.string(), pa.string())
        ),
        "fields": pa.array(
            [
                {k: None if v is None else float(v)
                 for k, v in p.fields.items()}
                for p in pts
            ],
            pa.map_(pa.string(), pa.float64()),
        ),
    }
    if seq_start is not None:
        cols[SEQ_COL] = pa.array(
            range(seq_start, seq_start + len(pts)), pa.int64()
        )
    return pa.table(cols)


def points_to_df(
    spark: SparkSession, points, with_seq: bool = False, seq_start: int = 0
) -> DataFrame:
    """Create a DataFrame in the canonical schema from an iterable of Points.

    Driver-side by design: this is the MemoryStorage/CSVStorage read
    path and the tests' way in; bulk data enters via parquet/CSV
    readers, never through Python objects. The rows go to the JVM as
    one Arrow table (``points_to_arrow``), with no Python worker.
    """
    table = points_to_arrow(points, seq_start if with_seq else None)
    return spark.createDataFrame(
        table, schema=POINT_SCHEMA_SEQ if with_seq else POINT_SCHEMA
    )


def collect_arrow_batches(df: DataFrame):
    """Collect a DataFrame as a list of Arrow record batches, skipping
    the final ``pyarrow.Table`` assembly that ``DataFrame.toArrow()``
    performs.

    The serving fast path for repeated low-latency reads: on a cached
    serving view the per-action cost is job dispatch + Arrow stream
    read, and the Table assembly is a measurable ~3 ms of pure
    driver-side overhead on top (at 100k-row scale, ~20% of the action).
    Uses the same socket protocol ``toArrow`` uses; falls back to
    ``toArrow().to_batches()`` if the internal hooks move in a future
    PySpark (the fallback is correct, just slower).
    """
    try:
        from pyspark.rdd import _load_from_socket
        from pyspark.sql.pandas.serializers import ArrowCollectSerializer

        hook = df._jdf.collectAsArrowToPython
    except (ImportError, AttributeError):
        # Only private-hook DRIFT falls back; a genuine execution
        # failure below must propagate, not silently re-run the whole
        # job through toArrow().
        return df.toArrow().to_batches()
    results = list(_load_from_socket(hook(), ArrowCollectSerializer()))
    # Stream protocol: record batches, then a list of batch order
    # indices as the final element (partitions arrive out of order).
    batches, batch_order = results[:-1], results[-1]
    return [batches[i] for i in batch_order]
