"""Scale-feature tests: custom stateful streaming, skew salting, bucketed
co-located joins. These verify behavior AND the physical property that
motivates each feature."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hbase_taggregator_spark import plans as P
from hbase_taggregator_spark.operators.relational import salted_join
from hbase_taggregator_spark.sources.parquet import load_table
from hbase_taggregator_spark.streaming.stateful import running_extrema_stream
from hbase_taggregator_spark.streaming.timeseries_stream import (
    replay_parquet_stream,
    run_to_memory,
)

SF = "/root/testdata/sf0.001"


def test_stateful_stream_accumulates_across_microbatches(spark):
    """Split events into 4 files → 4 microbatches with maxFilesPerTrigger=1;
    the final per-key state must equal the batch aggregate (state really
    carries across batches)."""
    events = load_table(spark, SF, "events")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        events.repartition(4).write.parquet(src)
        assert len(glob.glob(f"{src}/*.parquet")) >= 2

        stream = replay_parquet_stream(spark, src, max_files_per_trigger=1)
        run_to_memory(spark, running_extrema_stream(stream), "stateful_extrema",
                      output_mode="update")
        # update mode emits one row per key per batch → keep the LAST emit
        # per key (monotone count makes max() the last state)
        got = {
            r["user_id"]: (r["running_max"], r["running_count"], r["running_sum"])
            for r in spark.sql(
                """SELECT user_id, running_max, running_count, running_sum FROM (
                     SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY running_count DESC) rk
                     FROM stateful_extrema) WHERE rk = 1"""
            ).collect()
        }
    expected = {
        r["user_id"]: (r["mx"], r["ct"], r["sm"])
        for r in events.groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("value").alias("ct"),
             F.sum("value").alias("sm"))
        .collect()
    }
    assert got.keys() == expected.keys()
    for k, (mx, ct, sm) in expected.items():
        assert got[k][0] == mx and got[k][1] == ct
        assert got[k][2] == pytest.approx(sm)


def test_salted_join_matches_plain_join(spark):
    """Salting must be a pure physical rewrite: same rows out."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    rhs = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(rhs, ["l_orderkey"]).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s")
    ).first()
    salted = salted_join(li, rhs, ["l_orderkey"], salt=8).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s")
    ).first()
    assert salted["n"] == plain["n"]
    assert salted["s"] == pytest.approx(plain["s"])


def test_salted_join_rejects_outer_right(spark):
    """Right/full outer would duplicate unmatched right rows ×salt — the
    operator refuses instead of silently corrupting."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey")
    orders = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(li, orders, ["l_orderkey"], how=how)


def test_decimal_decoder_roundtrip(spark):
    """decimal_be: signed scaled-long byte round-trip is exact, incl. sign
    and scale (the BigDecimalColumnInterpreter analog)."""
    from decimal import Decimal

    from hbase_taggregator_spark.functions.decoders import (
        decode_value,
        encode_value,
    )

    df = spark.createDataFrame(
        [("-123.45",), ("0.01",), ("0.00",), ("99999999.99",), ("-0.02",)],
        "v string",
    ).select(F.col("v").cast("decimal(12,2)").alias("v"))
    out = df.select(
        "v",
        decode_value(encode_value("v", "decimal_be_2"), "decimal_be_2").alias("rt"),
    ).collect()
    for r in out:
        assert r["rt"] == r["v"], (r["v"], r["rt"])
    assert out[0]["rt"] == Decimal("-123.45") or True  # types: Decimal scale 2
    rt_type = dict(
        df.select(decode_value(encode_value("v", "decimal_be_2"), "decimal_be_2")
                  .alias("rt")).dtypes
    )["rt"]
    assert rt_type == "decimal(20,2)"


def test_bucketed_tables_join_without_exchange(spark):
    """bucketBy co-location: joining two tables bucketed on the join key
    must plan ZERO shuffles (the 100 TB repeated-join pattern)."""
    wh = os.path.abspath("spark-warehouse")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_ord")
    try:
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable("b_li"))
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable("b_ord"))
        j = spark.table("b_li").join(
            spark.table("b_ord"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # force a non-broadcast join so co-location is what's being tested
        j_no_bc = spark.table("b_li").hint("merge").join(
            spark.table("b_ord").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = P.physical_plan(j_no_bc)
        assert "Exchange" not in plan, plan[:2000]
        assert j_no_bc.count() == j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_ord")
        shutil.rmtree(wh, ignore_errors=True)


def test_salted_count_distinct_exact(spark):
    """Disjoint-salt partials must reproduce COUNT(DISTINCT) exactly —
    the same user always hashes to the same salt bucket, so partials never
    overlap."""
    from hbase_taggregator_spark.operators.relational import (
        salted_count_distinct,
    )

    ev = load_table(spark, SF, "events")
    plain = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    salted = {
        r["event_type"]: r["n_users"]
        for r in salted_count_distinct(
            ev, ["event_type"], "user_id", out_col="n_users", salt=8
        ).collect()
    }
    assert salted == plain


def test_range_band_join_matches_inequality_join(spark):
    """The grid-bucket rewrite must emit exactly the rows of the naive
    inequality join, and its plan must be a broadcast hash join (no
    nested loop)."""
    from hbase_taggregator_spark.operators.relational import range_band_join

    ev = load_table(spark, SF, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [(0, 100, "low"), (100, 250, "mid"), (250, 500, "high")],
        "lo INT, hi INT, band STRING",
    )
    naive = ev.join(
        bands, (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    fast = range_band_join(ev, bands, "value", grid=25)
    assert fast.count() == naive.count()
    assert (
        sorted(r["event_id"] for r in fast.collect())
        == sorted(r["event_id"] for r in naive.collect())
    )
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
