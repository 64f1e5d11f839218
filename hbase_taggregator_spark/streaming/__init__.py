"""Structured Streaming equivalents of the bucketed aggregations.

The reference's README motivates streaming use ('time based data, e.g.
readings from electricity meters' — README.md:3 in /root/reference) but the
coprocessor is strictly batch/pull. This package delivers the streaming
path: same t_min-aligned bucket semantics, expressed as watermarked window
aggregations — the verbs (:func:`bucketed_stream_agg`) over a core that
takes any aggregate Columns (:func:`stream_aggregate`; with
``operators.timeseries.rollup_state()`` it maintains a continuous rollup
from the stream). :func:`run_to_memory` and :func:`run_to_parquet` drain a
bounded source (:func:`replay_parquet_stream`) through one availableNow
run loop with a hung-query timeout.
"""

from hbase_taggregator_spark.streaming.timeseries_stream import (
    bucketed_stream_agg,
    replay_parquet_stream,
    run_to_memory,
    run_to_parquet,
    stream_aggregate,
)

__all__ = [
    "bucketed_stream_agg",
    "replay_parquet_stream",
    "run_to_memory",
    "run_to_parquet",
    "stream_aggregate",
]
