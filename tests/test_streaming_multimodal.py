"""Streaming-vs-batch equivalence (SURVEY.md §5 strategy #4) and the
multimodal binary plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hbase_taggregator_spark.operators.multimodal import (
    decode_image,
    extract_binary_features,
    sample_frames,
    with_binary_payload,
)
from hbase_taggregator_spark.operators.timeseries import (
    TimeseriesAggregator,
    continuous_rollup,
    rollup_state,
)
from hbase_taggregator_spark.sources.parquet import load_table
from hbase_taggregator_spark.streaming.timeseries_stream import (
    bucketed_stream_agg,
    replay_parquet_stream,
    run_to_memory,
    stream_aggregate,
)

SF = "/root/testdata/sf0.001"
T0 = 1_704_067_200
T_END = T0 + 7 * 86400


@pytest.mark.parametrize(
    "t_min, interval_s", [(T0, 3600), (T0 + 17, 900)], ids=["aligned", "offset"]
)
def test_stream_equals_batch(spark, t_min, interval_s):
    """Replaying the same parquet through Structured Streaming must produce
    the identical bucket map as the batch engine — also on a grid whose
    t_min is not a multiple of the interval (the window's startTime)."""
    stream = replay_parquet_stream(spark, f"{SF}/events.parquet").filter(
        F.unix_micros("ts") < T_END * 1_000_000
    )
    agg = bucketed_stream_agg(stream, t_min, interval_s, {"count": "c", "sum": "s"})
    streamed = {
        r["bucket_start_us"]: (r["c"], r["s"])
        for r in run_to_memory(spark, agg, f"equiv_test_{interval_s}").collect()
    }

    q = (
        TimeseriesAggregator(spark)
        .table(load_table(spark, SF, "events"))
        .range(t_min, T_END)
        .interval(interval_s)
    )
    batch = {
        r["bucket_start_us"]: (r["c"], r["s"])
        for r in q.agg(count="c", sum="s").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_rollup_state_equals_continuous_rollup(spark):
    """The rollup state a stream keeps (``stream_aggregate`` over
    ``rollup_state``) is ``continuous_rollup``'s fine frame bit for bit —
    same types, same decimal ``sum_dec`` — on a t_min-offset grid."""
    cols = ["bucket_start_us", "max_value", "min_value", "sum_dec", "count_value"]
    stream = replay_parquet_stream(spark, f"{SF}/events.parquet").filter(
        F.unix_micros("ts") < T_END * 1_000_000
    )
    streamed = run_to_memory(
        spark, stream_aggregate(stream, T0 + 17, 900, *rollup_state()), "rollup_state"
    ).select(cols)
    fine, _ = continuous_rollup(
        load_table(spark, SF, "events"), T0 + 17, T_END, 900, 900
    )
    fine = fine.select(cols)
    assert streamed.dtypes == fine.dtypes
    got = {r["bucket_start_us"]: r.asDict() for r in streamed.collect()}
    want = {r["bucket_start_us"]: r.asDict() for r in fine.collect()}
    assert got == want and len(want) > 0


def test_binary_features_match_python(spark):
    docs = load_table(spark, SF, "documents").limit(5)
    feats = {
        r["doc_id"]: r
        for r in extract_binary_features(with_binary_payload(docs)).collect()
    }
    for row in docs.collect():
        b = row["text"].encode("utf-8")
        f = feats[row["doc_id"]]
        assert f["n_bytes"] == len(b)
        assert f["payload_md5"] == hashlib.md5(b).hexdigest()
        assert f["first_byte"] == b[0]
        assert 0 <= f["entropy_bucket"] <= 8


def test_media_decode_stubs_raise(spark):
    """decode_image is real as of round 3 (pure-Python header parse — text
    payloads classify as 'unknown'), frame sampling is a real demux
    (it REJECTS foreign payloads rather than stubbing out), and as of
    round 4 pixel decode is a real stdlib PNG decoder that likewise
    rejects non-PNG bytes instead of env-gating."""
    from hbase_taggregator_spark.operators.multimodal import decode_pixels

    docs = with_binary_payload(load_table(spark, SF, "documents").limit(1))
    meta = decode_image(docs).collect()
    assert len(meta) == 1 and meta[0]["fmt"] == "unknown"
    with pytest.raises(Exception, match="(?i)png|signature|chunk"):
        decode_pixels(docs).collect()
    with pytest.raises(Exception, match="magic"):
        sample_frames(docs).collect()


def test_watermark_drops_late_data(spark):
    """Append-mode watermark semantics: an event arriving after its bucket
    was emitted is dropped (the documented late-data policy —
    timeseries_stream.py module docstring). Forced microbatch order via
    file mtimes; note Spark's late filter uses the previous batch's
    watermark, so the drop takes effect for rows arriving at least one
    batch after the bucket's emission — the late row here lands two
    batches after its bucket closed and must not appear anywhere."""
    import datetime as dt
    import glob as g
    import os
    import shutil
    import tempfile

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m, 0)

    t0 = int(dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp())
    schema = "user_id LONG, ts TIMESTAMP, value DOUBLE"
    batches = [
        ("a", [(1, ts(10, 0), 1.0), (1, ts(10, 5), 2.0), (1, ts(13, 0), 3.0)]),
        ("b", [(1, ts(14, 0), 4.0)]),
        ("c", [(1, ts(10, 10), 100.0), (1, ts(18, 0), 5.0)]),  # 10:10 late
        ("d", [(1, ts(19, 0), 6.0)]),
    ]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, (name, rows) in enumerate(batches):
            tmp = os.path.join(d, f"tmp_{name}")
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
            dst = os.path.join(src, f"{name}.parquet")
            shutil.copy(g.glob(f"{tmp}/*.parquet")[0], dst)
            os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        agg = bucketed_stream_agg(
            stream, t0, 3600, {"count": "n", "sum": "s"},
            watermark="30 minutes",
        )
        got = {
            r["bucket_start_us"]: (r["n"], r["s"])
            for r in run_to_memory(
                spark, agg, "late_drop", output_mode="append"
            ).collect()
        }
    b0 = t0 * 1_000_000
    # bucket 10:00 closed before the late 10:10 row arrived → it holds only
    # the two on-time rows; the late value 100.0 is absent everywhere
    assert got[b0] == (2, 3.0)
    assert all(abs(s - 100.0) > 1e-9 and s < 100.0 for (_, s) in got.values())


def test_transform_with_state_profile_or_env_gate(spark):
    """State-V2 stateful streaming (transformWithStateInPandas): per-user
    ValueState count + MapState bucket set must equal the batch aggregate
    after an availableNow drain. The runner needs google.protobuf + RocksDB
    state store — absent here, the probe gates the run (documented seam)."""
    import tempfile

    from hbase_taggregator_spark.streaming.transform_state import (
        tws_available,
        user_activity_profile_stream,
    )

    if not tws_available():
        pytest.skip("google.protobuf unavailable: TWS runner cannot start")

    from hbase_taggregator_spark.sources.parquet import load_table

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = load_table(spark, "/root/testdata/sf0.001", "events").filter(
            F.col("user_id") % 10 == 0
        )
        with tempfile.TemporaryDirectory() as d:
            ev.repartition(2).write.parquet(f"{d}/src")
            stream = replay_parquet_stream(spark, f"{d}/src", max_files_per_trigger=1)
            run_to_memory(
                spark, user_activity_profile_stream(stream), "tws_gate",
                timeout_s=180, output_mode="update",
            )
            got = {
                r.user_id: (r.n_events, r.n_value_buckets)
                for r in spark.sql(
                    """SELECT user_id, n_events, n_value_buckets FROM (
                         SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY n_events DESC) rk
                         FROM tws_gate) WHERE rk = 1"""
                ).collect()
            }
        want = {
            r.user_id: (r.n, r.b)
            for r in ev.groupBy("user_id")
            .agg(
                F.count("value").alias("n"),
                F.countDistinct(F.floor(F.col("value") / 50.0)).alias("b"),
            )
            .collect()
        }
        assert got == want
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
