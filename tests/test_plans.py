"""Plan-shape regression tests: the scale properties the engine claims are
asserted on real physical plans at sf0.001 (plan shape is sf-independent)."""

from __future__ import annotations

import re
import uuid

import pytest

from hbase_taggregator_spark import plans as P
from hbase_taggregator_spark.catalog import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF)

    return run


def test_ts_agg_is_partial_final_no_python(q):
    df = q("ts_max_900")
    assert P.has_partial_final_agg(df)
    assert P.python_eval_count(df) == 0


def test_rowkey_decode_stays_jvm_side(q):
    """Mask decode is hex/conv expressions — no Python in the scan path."""
    assert P.python_eval_count(q("ts_rowkey_mode_3600")) == 0


def test_q1_filter_pushdown_and_pruning(q):
    df = q("q1_pricing_summary")
    pushed = " ".join(P.pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed!r}"
    schema = " ".join(P.scan_schemas(df))
    assert "l_comment" not in schema  # nonexistent anyway, but…
    # only needed columns read: no l_orderkey/l_partkey in the q1 scan
    assert "l_partkey" not in schema


def test_q3_q5_broadcast_dimensions(q):
    assert P.broadcast_join_count(q("q3_shipping_priority")) >= 1
    assert P.broadcast_join_count(q("q5_local_supplier")) >= 3


def test_events_time_range_pushdown(spark):
    """An explicit ``time_range`` reaches the scan as a pushed ``ts`` filter."""
    from hbase_taggregator_spark.catalog.registry import T0, T_WEEK, US
    from hbase_taggregator_spark.sources.parquet import load_table

    df = load_table(spark, SF, "events", time_range=(T0 * US, T_WEEK * US))
    pushed = " ".join(P.pushed_filters(df))
    assert "ts" in pushed and "GreaterThanOrEqual" in pushed


def test_bucketed_query_range_prunes_a_plain_load(spark):
    """A query over ``load_table`` with no ``time_range`` pushes its own
    range to the parquet scan. In taggregator mode the pushed upper bound
    is the end of the trailing bucket (``upper_bound_us``), not t_max."""
    from hbase_taggregator_spark import TimeseriesAggregator
    from hbase_taggregator_spark.catalog.registry import T0, T_WEEK
    from hbase_taggregator_spark.sources.parquet import load_table

    # pushed timestamp literals print as java.sql.Timestamp, rendered by
    # the same conversion Spark applies to the source filter
    jts = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils
    events = load_table(spark, SF, "events")
    for cutoff in ("strict", "taggregator"):
        q = (
            TimeseriesAggregator(spark).table(events)
            .range(T0, T_WEEK - 1800).interval(3600).mode(cutoff)
        )
        pushed = " ".join(P.pushed_filters(q.max()))
        lo = jts.toJavaTimestamp(q.t_min_us).toString()
        hi = jts.toJavaTimestamp(q.upper_bound_us()).toString()
        assert f"GreaterThanOrEqual(ts,{lo})" in pushed, f"{cutoff}: {pushed!r}"
        assert f"LessThan(ts,{hi})" in pushed, f"{cutoff}: {pushed!r}"
    assert q.upper_bound_us() > q.t_max_us


@pytest.mark.parametrize(
    "name",
    [
        "ts_max_900",
        "ts_avg_900_odd_start",
        "ts_max_28800_compat",
        "ts_multi_verb_28800",
        "ts_grouped_by_type_86400",
        "ts_rowkey_mode_3600",
        "ts_count_900_gapfilled",
        "decoder_registry_long_be",
        "rowkey_range_scan",
    ],
)
def test_gated_ts_queries_prune_the_scan(q, name):
    """The GATED queries themselves (not just the loader) must push the time
    range to the parquet scan — the reference's whole point is scan-range
    pruning (TimeseriesAggregationClient.java:576-581). Round-1 regression:
    the catalog full-scanned events and filtered post-scan."""
    pushed = " ".join(P.pushed_filters(q(name)))
    assert "ts" in pushed and "GreaterThanOrEqual" in pushed, f"{name}: {pushed!r}"


def test_dedup_and_similarity_no_python(q):
    for name in (
        "dedup_exact",
        "dedup_minhash_lsh_candidates",
        "dedup_simhash_signatures",
        "similarity_cosine_topk",
        "text_quality_features",
    ):
        assert P.python_eval_count(q(name)) == 0, name


def test_multimodal_is_the_only_python_path(q):
    assert P.python_eval_count(q("multimodal_binary_features")) == 1


def test_topk_has_no_global_sort_before_limit(q):
    """Window top-k shuffles by group key; the only global sort allowed is
    the final presentation orderBy (none in this query)."""
    df = q("window_topk_parts_per_brand")
    # row_number needs one sort within partitions, not a global range sort
    assert P.count_nodes(df, "Exchange rangepartitioning") == 0


def test_round3_late_wave_no_python_hot_paths(q):
    """The late-wave operators are JVM-expression plans except the UDTF
    (Python by definition) and the materializing sink gates."""
    for name in (
        "ts_ewma_smoothed_3600",
        "ts_largest_gaps_per_type",
        "scd2_user_event_history",
        "profile_documents_columns",
        "sketch_kmv_distinct_users",
        "text_feature_hashing_64",
        "fuzzy_customer_name_candidates",
        "interval_overlap_regimes_sessions",
        "window_rank_functions_showcase",
    ):
        assert P.python_eval_count(q(name)) == 0, name


def test_ewma_lag_chain_reuses_agg_partitioning(q):
    """The EWMA lag window partitions on the same key the bucket agg
    grouped by — no extra Exchange between aggregation and window."""
    df = q("ts_ewma_smoothed_3600")
    # bucket agg + final orderBy = 2 exchanges; the window must not add one
    assert P.count_nodes(df, "Exchange hashpartitioning") <= 2


def test_profile_is_single_scan(q):
    """One scan feeds every per-column aggregate (no per-column rescans)."""
    df = q("profile_documents_columns")
    assert len(P.scan_schemas(df)) == 1


# -- the per-query job floor ---------------------------------------------------


def _bucketed_frames(spark):
    """Every bucketed-core frame shape: the verbs, ``agg``, grouped ``agg``,
    the rollup merge and read-back, and the gap fill."""
    from hbase_taggregator_spark import TimeseriesAggregator
    from hbase_taggregator_spark.operators.timeseries import (
        continuous_rollup,
        fill_gaps,
        merge_rollups,
        read_rollup,
    )
    from hbase_taggregator_spark.catalog.registry import T0, T_WEEK, US
    from hbase_taggregator_spark.sources.parquet import load_table

    events = load_table(spark, SF, "events")
    q = TimeseriesAggregator(spark).table(events).range(T0, T_WEEK).interval(3600)
    fine, _ = continuous_rollup(events, T0, T_WEEK, 3600, 3600)
    return {
        "max": q.max(),
        "agg": q.agg(max="mx", avg="av", count="ct"),
        "grouped agg": q.group_by("event_type").agg(max="mx", sum="sm"),
        "merge_rollups": merge_rollups([fine, fine]),
        "read_rollup": read_rollup(fine, T0, 86400),
        "fill_gaps": fill_gaps(q.max(), T0 * US, T_WEEK * US, 3600 * US),
    }


def test_bucketed_frames_have_no_global_sort(spark):
    """The bucketed core promises no row order (``to_map`` is the sorted
    edge), so no plan pays a range-partition sampling job and sort stage."""
    for name, df in _bucketed_frames(spark).items():
        plan = P.physical_plan(df)
        assert "Exchange rangepartitioning" not in plan, f"{name}:\n{plan}"
        assert not re.search(r"Sort \[[^\]]*\], true", plan), f"{name}:\n{plan}"


def _jobs_run(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs on the calling thread."""
    sc = spark.sparkContext
    group = f"job-floor-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_and_query_job_floor(spark):
    """A repeat ``load_table`` of an unchanged table infers no schema (0 jobs),
    and a warm one-verb query collected by ``to_map`` runs the scan +
    partial-aggregate job and the final-aggregate job, nothing else."""
    from hbase_taggregator_spark import TimeseriesAggregator
    from hbase_taggregator_spark.catalog.registry import T0
    from hbase_taggregator_spark.sources.parquet import load_table

    load_table(spark, SF, "events")
    assert _jobs_run(spark, lambda: load_table(spark, SF, "events")) == 0

    def query():
        events = load_table(spark, SF, "events")
        q = TimeseriesAggregator(spark).table(events).range(T0, T0 + 86400)
        q = q.interval(900)
        assert q.to_map(q.max())

    assert _jobs_run(spark, query) <= 2


@pytest.mark.parametrize("cutoff", ["strict", "taggregator"])
def test_rowkey_query_decodes_once(spark, tmp_path_factory, cutoff):
    """The HBase-layout time column is decoded once per row: the range
    filter and the bucket read one decoded attribute, so the grouped
    five-verb plan holds a single ``conv``."""
    from pyspark.sql import functions as F

    from hbase_taggregator_spark import TimeseriesAggregator
    from hbase_taggregator_spark.sources.rowkey import encode_rowkey

    t0, hour = 1_700_000_000, 3600
    path = str(tmp_path_factory.mktemp("rowkey") / "events_hbase.parquet")
    spark.range(48).select(
        encode_rowkey(b"series01", F.lit(t0) + F.col("id") * hour).alias("rowkey"),
        (F.col("id") * 75 % hour).cast("int").alias("qualifier"),
        F.col("id").cast("double").alias("value"),
        (F.col("id") % 5).cast("string").alias("event_type"),
    ).write.parquet(path)
    q = (
        TimeseriesAggregator(spark)
        .table_from_rowkey(spark.read.parquet(path), "000000001111",
                           qualifier_col="qualifier")
        .range(t0 + hour, t0 + 40 * hour - 1800).interval(hour).mode(cutoff)
        .group_by("event_type")
    )
    df = q.agg(max="max", min="min", sum="sum", avg="avg", count="count")
    plan = P.physical_plan(df)
    assert plan.count("conv(") == 1, plan
    events_us = [(t0 + i * hour + i * 75 % hour) * 10**6 for i in range(48)]
    in_range = sum(q.t_min_us <= t < q.upper_bound_us() for t in events_us)
    assert df.agg(F.sum("count")).first()[0] == in_range
