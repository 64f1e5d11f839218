"""SparkSession construction and normalization helpers.

Local testing runs one JVM (``local[N]``); the engine itself is written for a
multi-executor cluster: every operator is expressed as a declarative DataFrame
plan (partial aggregation before shuffle, broadcast hints for small dims,
AQE-friendly), so the same code scales by partitioning alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs the engine needs regardless of who built the session. All of
#: these are runtime-settable, so :func:`configure` can be applied to a
#: session the engine did not create (e.g. the verification driver's).
RUNTIME_CONFS = {
    # Parquet TIMESTAMP(NANOS) columns are rejected by Spark's vectorized
    # reader; read them as raw int64 nanos and let the source layer widen
    # to TimestampType (micros). The test data's `events` tables store
    # TIMESTAMP(MICROS) and read as timestamps directly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (isAdjustedToUTC=false) parquet timestamps otherwise surface as
    # TIMESTAMP_NTZ, which unix_micros/window() reject. With the session
    # pinned to UTC, reading them as instants is value-identical to the
    # oracle engine's naive interpretation.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Arrow for pandas_udf / applyInPandas exchanges.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Calendar-grain operators (date_trunc week/month) must agree with the
    # TZ-naive oracle engine regardless of who built the session; epoch-int
    # outputs elsewhere are TZ-independent, date_trunc is not.
    "spark.sql.session.timeZone": "UTC",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    return spark


def get_spark(
    app_name: str = "pyspark-taggregator",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Shuffle-partition count defaults to the local core count rather than
    Spark's 200: at local scale 200 partitions is pure scheduling overhead,
    on a real cluster AQE coalesces post-shuffle partitions anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    return configure(builder.getOrCreate())
