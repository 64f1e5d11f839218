"""Streaming bucketed aggregation: the engine core's semantics on an
unbounded source.

Bucketing uses `window(ts, interval, startTime=t_min mod interval)` — the
t_min-aligned tumbling buckets of SURVEY.md §2.3.1 — instead of the batch
path's integer arithmetic, because Structured Streaming's state cleanup
requires the event-time window form. Late data past the watermark is
dropped (the reference has no late-data analog; the policy is ours to
define — SURVEY.md §2.2 'streaming').

A bounded source (a parquet replay) drains through one run loop:
availableNow trigger, hung-query timeout, state partitions scoped to the
query start (:func:`run_to_memory`, :func:`run_to_parquet`).

State size is bounded by (#open windows × #dims): each tumbling window
closes `watermark` after its end, so at 100 TB/day ingest the state is
independent of throughput — only of interval, watermark, and dimension
cardinality.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter

from hbase_taggregator_spark.operators.timeseries import (
    US_PER_SECOND,
    _VERB_EXPRS,
    to_epoch_us,
)
from hbase_taggregator_spark.session import configure
from hbase_taggregator_spark.sources.parquet import _normalize_event_ts


def replay_parquet_stream(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source replay of a parquet table as a stream (the standard way
    to regression-test streaming vs batch equivalence). Schema comes from a
    batch footer read; nanos timestamps are normalized like the batch path."""
    configure(spark)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path.endswith(".parquet") and os.path.isfile(path):
        # the file-stream source only accepts directories; target a single
        # file by streaming its parent with a name filter
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    return _normalize_event_ts(df, ts_col)


def stream_aggregate(
    stream: DataFrame,
    t_min: Any,
    interval_s: int,
    *agg_cols: Column,
    ts_col: str = "ts",
    dims: tuple[str, ...] = (),
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window aggregation with t_min-aligned buckets
    over caller-supplied aggregate Columns — the streaming
    :meth:`~hbase_taggregator_spark.operators.timeseries.TimeseriesQuery.aggregate`
    (e.g. ``rollup_state()`` keeps a continuous rollup from a stream).

    Returns {bucket_start_us, *dims, *aggregates}; in append mode a bucket
    emits once its window passes the watermark — the streaming analog of
    the batch partial/final merge.
    """
    t_min_us = to_epoch_us(t_min)
    offset_us = t_min_us % (interval_s * US_PER_SECOND)
    win = F.window(
        F.col(ts_col),
        f"{interval_s} seconds",
        startTime=f"{offset_us} microseconds",
    )
    out = (
        stream.withWatermark(ts_col, watermark)
        .filter(F.unix_micros(F.col(ts_col)) >= F.lit(t_min_us))
        .groupBy(win.alias("w"), *dims)
        .agg(*agg_cols)
    )
    return out.select(
        F.unix_micros(F.col("w.start")).alias("bucket_start_us"), *out.columns[1:]
    )


def bucketed_stream_agg(
    stream: DataFrame,
    t_min: Any,
    interval_s: int,
    verbs: dict[str, str],
    ts_col: str = "ts",
    value_col: str = "value",
    dims: tuple[str, ...] = (),
    watermark: str = "1 hour",
) -> DataFrame:
    """The verbs: :func:`stream_aggregate` over the named verb columns.
    ``verbs`` maps verb → output alias (like TimeseriesQuery.agg)."""
    return stream_aggregate(
        stream,
        t_min,
        interval_s,
        *[_VERB_EXPRS[v](value_col).alias(alias) for v, alias in verbs.items()],
        ts_col=ts_col,
        dims=dims,
        watermark=watermark,
    )


#: stateful-operator partitions of a bounded stream (see :func:`_run_bounded`)
STATE_PARTITIONS = 4


def _run_bounded(
    spark: SparkSession,
    writer: DataStreamWriter,
    name: str,
    timeout_s: int,
) -> None:
    """Drain a bounded source: start ``writer`` with the availableNow
    trigger and wait for it to stop. A query still running after
    ``timeout_s`` is stopped and raises TimeoutError, so a hung trigger
    never passes off a partial sink as the result.

    ``spark.sql.shuffle.partitions`` is scoped to :data:`STATE_PARTITIONS`
    while the query STARTS: the stateful-operator partition count — hence
    the number of state-store instances — is frozen at query start from
    this conf. Local bounded replays don't need 32 state stores each paying
    open/commit per microbatch; 4 keeps full pipelining on a laptop-class
    gate while cutting the fixed per-batch state overhead ~8×. Results are
    partitioning-independent — a latency knob, never a semantics knob."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    if q.isActive:  # pragma: no cover - guard against a hung trigger
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish")


def run_to_memory(
    spark: SparkSession,
    agg: DataFrame,
    query_name: str,
    timeout_s: int = 300,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming query to completion over a bounded source
    (availableNow trigger, memory sink, ``output_mode`` complete, update or
    append) and return the sink table ``query_name``."""
    _run_bounded(
        spark,
        agg.writeStream.format("memory").queryName(query_name).outputMode(output_mode),
        query_name,
        timeout_s,
    )
    return spark.table(query_name)


def run_to_parquet(
    spark: SparkSession,
    agg: DataFrame,
    path: str,
    checkpoint: str,
    timeout_s: int = 300,
) -> None:
    """Execute a complete-mode streaming aggregation with a ``foreachBatch``
    parquet sink: every microbatch overwrites ``path`` with the full current
    result, so a replayed batch rewrites the same content instead of
    duplicating it. The sink is not atomic: ``mode("overwrite")`` deletes
    ``path`` before it writes, so a crash mid-batch leaves readers an empty
    or partial directory until the next batch completes (ROADMAP item 3)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(path)

    _run_bounded(
        spark,
        agg.writeStream.foreachBatch(_write)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint),
        f"foreachBatch -> {path}",
        timeout_s,
    )
