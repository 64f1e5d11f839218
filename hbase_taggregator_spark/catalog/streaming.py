"""Streaming catalog: the bucketed aggregation and the stateful operators on
Structured Streaming.

Each query replays a parquet table as a bounded stream and runs it to
completion (``run_to_memory`` / ``run_to_parquet``). The result must equal
the batch result, so the oracles are batch SQL.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.catalog.registry import (
    DEC,
    T0,
    T_WEEK,
    US,
    _bucket_sql,
    _register,
    _sql_dsum,
)
from hbase_taggregator_spark.operators import text as X
from hbase_taggregator_spark.operators.timeseries import read_rollup, rollup_state
from hbase_taggregator_spark.sources.parquet import load_table
from hbase_taggregator_spark.streaming.stateful import running_extrema_stream
from hbase_taggregator_spark.streaming.timeseries_stream import (
    bucketed_stream_agg,
    replay_parquet_stream,
    run_to_memory,
    run_to_parquet,
    stream_aggregate,
)
from hbase_taggregator_spark.util import local_df


def _q_streaming_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's bucketed aggregation on Structured Streaming: replay
    the events parquet as a stream, watermarked tumbling windows, run to
    completion. Must equal the batch result — it shares the batch oracle."""
    stream = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    stream = stream.filter(F.unix_micros("ts") < F.lit(T_WEEK * US))
    agg = bucketed_stream_agg(
        stream,
        T0,
        3600,
        {"count": "count_value", "max": "max_value"},
        watermark="1 hour",
    )
    result = run_to_memory(spark, agg, "stream_ts_3600")
    return result.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "count_value",
        "max_value",
    )


_register(
    "streaming_ts_count_max_3600",
    _q_streaming_counts,
    f"""
    SELECT {_bucket_sql(T0, 3600)} AS bucket_ms,
           COUNT(value) AS count_value, MAX(value) AS max_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState): running
    per-user extrema accumulated across real microbatches (input re-split
    into 4 files, maxFilesPerTrigger=1). The final state per key must equal
    the batch aggregate — which is the oracle. running_sum is excluded from
    the compare (per-batch float accumulation is order-dependent)."""


    events = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        events.repartition(4).write.parquet(src)
        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        run_to_memory(spark, running_extrema_stream(stream), "q_stateful_extrema",
                      output_mode="update")
        final = spark.sql(
            """SELECT user_id, running_max, running_min, running_count FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY running_count DESC) rk
                 FROM q_stateful_extrema) WHERE rk = 1"""
        )
        # materialize before the temp dir vanishes
        out = local_df(spark, final.collect(), final.schema)
    return out


_register(
    "streaming_stateful_running_extrema",
    _q_stateful_stream,
    """
    SELECT user_id, MAX(value) AS running_max, MIN(value) AS running_min,
           COUNT(value) AS running_count
    FROM events GROUP BY user_id
    """,
)


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the corpus replayed as an unbounded stream,
    fingerprint groupBy in complete mode — final state must equal the batch
    dedup (it shares dedup_exact's oracle). At 100 TB-scale ingest the
    state is one row per distinct fingerprint; MIN/COUNT merges are
    order-insensitive, so the result is microbatch-schedule-independent."""
    stream = replay_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    agg = (
        X.fingerprint(stream)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    )
    result = run_to_memory(spark, agg, "stream_dedup_exact")
    return result.select("fp", "doc_id", "n_duplicates")


_register(
    "streaming_dedup_exact",
    _q_streaming_dedup,
    """
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS doc_id, COUNT(*) AS n_duplicates
    FROM documents GROUP BY 1
    """,
)


def _q_streaming_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → foreachBatch parquet sink: every microbatch overwrites
    the output with the full current aggregate; the gate reads the final
    files back and must match the batch oracle exactly — any duplication
    or loss in the sink path breaks the hash."""

    stream = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    stream = stream.filter(F.unix_micros("ts") < F.lit(T_WEEK * US))
    agg = bucketed_stream_agg(
        stream, T0, 7200, {"count": "n", "sum": "sum_value"},
        watermark="1 hour",
    )
    with tempfile.TemporaryDirectory() as d:
        run_to_parquet(spark, agg, f"{d}/out", f"{d}/ckpt")
        back = spark.read.parquet(f"{d}/out").select(
            F.expr("bucket_start_us div 1000").alias("bucket_ms"),
            "n",
            F.col("sum_value").cast(DEC).cast("double").alias("sum_value"),
        )
        out = local_df(spark, back.collect(), back.schema)
    return out


_register(
    "streaming_foreachbatch_sink",
    _q_streaming_foreachbatch,
    f"""
    SELECT {_bucket_sql(T0, 7200)} AS bucket_ms, COUNT(value) AS n,
           {_sql_dsum('value')} AS sum_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """,
)


def _q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    broadcast dimension (customer keyed by user_id) — the standard
    dimension-lookup topology; stateless per microbatch, so state is only
    the downstream aggregate."""
    stream = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream.join(F.broadcast(cust), "user_id")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    result = run_to_memory(spark, agg, "stream_static_join_seg")
    return result.select("c_mktsegment", "n_events")


_register(
    "streaming_static_join_segments",
    _q_streaming_static_join,
    """
    SELECT c_mktsegment, COUNT(*) AS n_events
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY 1
    """,
)


def _q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to purchases of the same
    user within the following hour, both sides watermarked so join state is
    evicted after the band passes. Inner join emits on match (no watermark
    hold), so the replayed result equals the batch band-join; the memory
    sink is aggregated in batch to per-user pair counts."""
    clicks = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    purchases = replay_parquet_stream(spark, f"{sf_dir}/events.parquet")
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), "event_id")
        .withWatermark("c_ts", "2 hours")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    pairs = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    sink = run_to_memory(spark, pairs, "stream_stream_pairs", output_mode="append")
    return sink.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


_register(
    "streaming_stream_join_pairs",
    _q_streaming_stream_join,
    f"""
    WITH c AS (SELECT user_id, epoch_us(ts) AS ct FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS pt FROM events
          WHERE event_type = 'purchase')
    SELECT c.user_id, COUNT(*) AS n_pairs
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.pt > c.ct AND p.pt <= c.ct + {3600 * US}
    GROUP BY 1
    """,
)


def _q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark over real microbatches (the
    4-file replay): first arrival per (user_id, event_type) key, state
    evicted past the watermark. The watermark delay (30 days) exceeds the
    fixture's whole time span so no key is evicted mid-replay — making the
    RESULT deterministic (the surviving-row choice is arrival-order-
    dependent, the distinct-key count is not) while still exercising the
    watermarked dedup state machinery end-to-end. The oracle is the exact
    distinct count."""

    events = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        events.repartition(4).write.parquet(src)
        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        deduped = stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
            ["user_id", "event_type"]
        )
        sink = run_to_memory(spark, deduped, "stream_dedup_wm", output_mode="append")
        final = sink.agg(F.count(F.lit(1)).alias("n_distinct_keys"))
        out = local_df(spark, final.collect(), final.schema)
    return out


_register(
    "streaming_dedup_within_watermark",
    _q_streaming_dedup_watermark,
    """
    SELECT COUNT(*) AS n_distinct_keys
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    """,
)


def _q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous rollup: the HOURLY fine rollup is maintained by
    a watermarked streaming aggregation over real microbatches (4-file
    replay), then the DAILY answer is re-aggregated from the sink —
    max-of-max / decimal sum-of-sum / count-of-count, bit-identical to a
    raw daily scan (which is what the oracle computes)."""


    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        events.write.parquet(src, mode="overwrite")
        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        fine = stream_aggregate(
            stream, T0, 3600, *rollup_state(), watermark="30 days"
        )
        coarse = read_rollup(
            run_to_memory(spark, fine, "stream_rollup_fine"), T0, 86400
        ).select(
            F.expr("bucket_start_us div 1000").alias("bucket_ms"),
            "max_value", "min_value", "sum_value", "count_value",
        )
        out = local_df(spark, coarse.collect(), coarse.schema)
    return out


_register(
    "streaming_continuous_rollup",
    _q_streaming_rollup,
    f"""
    SELECT {{bucket}} AS bucket_ms,
           MAX(value) AS max_value, MIN(value) AS min_value,
           {{dsum}} AS sum_value, COUNT(value) AS count_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """.format(bucket=_bucket_sql(T0, 86400), dsum=_sql_dsum("value")),
)
