"""Parquet table loaders with timestamp normalization.

Replaces the reference's table-scan source (HBase region scanner opened per
RPC — ``TimeseriesAggregateImplementation.java:156`` in /root/reference) with
``spark.read.parquet``: vectorized columnar scan, row-group min/max skipping,
and column pruning are supplied by Catalyst instead of hand-rolled scan
bounds.

Scale note (100 TB): filters placed on *raw* scan columns push down to the
parquet reader (``PushedFilters`` in the physical plan) and skip row groups.
The test data's ``events`` tables store ``ts`` as TIMESTAMP(MICROS,
isAdjustedToUTC=false), read as TimestampType: a filter comparing that column
with timestamp literals pushes down, so a bucketed query's own range
(``TimeseriesQuery``) prunes the scan. Files written as TIMESTAMP(NANOS) are
read as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and widened here;
a filter on the *widened* column cannot push down, so :func:`load_table`
accepts an optional time range and applies it to the raw storage column
*before* conversion — that predicate reaches the scan.

Schema memo: without a schema, ``spark.read.parquet`` runs a one-task Spark
job to infer one from the files' footers — on every load. :func:`load_table`
remembers each table's inferred schema, keyed by the table path, together
with the fingerprint it was inferred under: every file below the path
(relative name, size, ``st_mtime_ns``) plus the session's values of the
parquet inference confs (:data:`_INFERENCE_CONFS`). A repeat load whose
fingerprint matches passes the schema to ``spark.read.schema(…)`` and runs
no job; any other load infers as before and stores the result. The schema
is a property of the files, so the memo is shared by every session in the
process.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from hbase_taggregator_spark.session import configure

#: All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Session confs that change the schema Spark infers from the same files.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: path → (fingerprint, schema), each entry replaced whole under the lock,
#: so a hit never pairs one fingerprint with another's schema. Two loads
#: racing on a miss may both infer; the last store wins.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """The files below ``path`` and the inference confs; ``None`` when the
    listing finds no file (Spark then raises on its own, as without memo)."""
    if os.path.isfile(path):
        paths = [path]
    else:
        paths = [os.path.join(d, n) for d, _, names in os.walk(path) for n in names]
    files = []
    for p in paths:
        try:
            st = os.stat(p)
        except FileNotFoundError:  # removed by a concurrent rewrite
            continue
        files.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    if not files:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return tuple(sorted(files)), confs


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, skipping schema inference when the
    files and confs are those of the last inference (module docstring).
    The fingerprint is taken before inferring, so files that change during
    the inference leave an entry the next load misses, never a stale hit."""
    fp = _fingerprint(spark, path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(path)
    if fp is not None and hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if fp is not None:
        with _SCHEMAS_LOCK:
            _SCHEMAS[path] = (fp, df.schema)
    return df


def _normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Widen a raw int64-nanos timestamp column to TimestampType (micros).

    Integer division (``div``) keeps full precision — a double round-trip
    would lose bits above 2^53 — and truncates toward zero exactly like
    other engines' nanos→micros narrowing, so oracle comparisons agree.
    """
    if ts_col in df.columns and isinstance(df.schema[ts_col].dataType, T.LongType):
        return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000")))
    if ts_col in df.columns and isinstance(
        df.schema[ts_col].dataType, T.TimestampNTZType
    ):
        # Session TZ is pinned UTC (session.RUNTIME_CONFS), so NTZ→LTZ is a
        # pure re-tag: same micros value, now accepted by unix_micros et al.
        # Hit only when the host session locked inferTimestampNTZ=true.
        return df.withColumn(ts_col, F.col(ts_col).cast(T.TimestampType()))
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    time_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Load one test table; normalize event timestamps to TimestampType.

    ``time_range`` = (min_us, max_us) epoch-microseconds half-open; applied
    to the raw storage column so it pushes down to the scan. A bucketed
    query over the returned frame does not need it — its own range filter
    reaches the scan. Pass it only where that filter cannot: nanos-as-long
    storage (the query then filters the widened column), or a frame
    transformed before the query (e.g. a synthesized rowkey whose decoded
    timestamp is the query's time column).
    """
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_parquet(spark, path)
    if name == "events":
        if time_range is not None and isinstance(df.schema["ts"].dataType, T.LongType):
            lo_ns, hi_ns = time_range[0] * 1000, time_range[1] * 1000
            df = df.filter((F.col("ts") >= lo_ns) & (F.col("ts") < hi_ns))
        elif time_range is not None:
            # Native timestamp storage: comparing the stored column against
            # foldable timestamp literals still reaches the scan as a
            # PushedFilter (no unix_micros wrapper on the storage column).
            lo_us, hi_us = time_range
            df = df.filter(
                (F.col("ts") >= F.timestamp_micros(F.lit(lo_us)))
                & (F.col("ts") < F.timestamp_micros(F.lit(hi_us)))
            )
        df = _normalize_event_ts(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table in the scale-factor directory."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
