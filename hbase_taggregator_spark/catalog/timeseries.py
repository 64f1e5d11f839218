"""Time-series catalog: the reference's bucketed aggregation and the series
operators around it.

Bucketed queries go through :class:`TimeseriesAggregator`, the
reference-parity engine core, and their oracles restate the bucket algebra
(t_min-aligned integer floor) in portable SQL. The HBase layouts (rowkey,
qualifier offsets, cell decoders, the connector's row shape), rollups and
their read-back, sliding and session windows, as-of joins and the series
operators (gap fill, resampling, EWMA, trend, outliers, LTTB) live here too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from hbase_taggregator_spark.catalog.registry import (
    T0,
    T_MONTH,
    T_WEEK,
    US,
    _bucket_sql,
    _davg,
    _dsum,
    _register,
    _sql_davg,
    _sql_dsum,
)
from hbase_taggregator_spark.functions.decoders import decode_value, encode_value
from hbase_taggregator_spark.operators.asof import asof_join
from hbase_taggregator_spark.operators.relational import (
    interval_overlap_join,
    scd2_from_events,
)
from hbase_taggregator_spark.operators.timeseries import (
    TimeseriesAggregator,
    continuous_rollup,
    counter_rate,
    ewma_truncated,
    fill_gaps,
    largest_gaps,
    linear_trend,
    lttb_downsample,
    mad_outliers,
    merge_rollups,
    read_rollup,
    rolling_zscore_anomalies,
    time_weighted_avg,
)
from hbase_taggregator_spark.operators.windows import session_agg, sliding_bucket_agg
from hbase_taggregator_spark.sources.hbase import hbase_catalog, load_hbase_fixture
from hbase_taggregator_spark.sources.parquet import load_table
from hbase_taggregator_spark.sources.rowkey import encode_rowkey


T_ODD = T0 + 86400 + 2 * 3600 + 15 * 60  # 2024-01-02 02:15:00


def _ts_query(verb: str, t_min: int, t_max: int, interval: int, cutoff: str = "strict"):
    """Build one bucketed-aggregation query through the engine core.

    The query's own range (up to the trailing bucket in taggregator mode)
    filters the stored ``ts`` column and reaches the parquet scan
    (PushedFilters / row-group skipping) — the Spark analog of the
    reference's scan-range pruning (TimeseriesAggregationClient.java:576-581).
    At 100 TB this is the difference between scanning a week and scanning
    the whole table."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        q = (
            TimeseriesAggregator(spark)
            .table(events)
            .range(t_min, t_max)
            .interval(interval)
            .mode(cutoff)
        )
        if verb == "max":
            df = q.max("max_value")
        elif verb == "min":
            df = q.min("min_value")
        elif verb == "count":
            df = q.count("count_value")
        elif verb == "sum":
            # decimal-exact double sum via the custom-aggregate hook
            df = q.aggregate(_dsum("value", "sum_value"))
        elif verb == "avg":
            df = q.aggregate(_davg("value", "avg_value"))
        else:
            raise ValueError(verb)
        return df.select(
            F.expr("bucket_start_us div 1000").alias("bucket_ms"),
            f"{verb}_value",
        )

    return run


def _ts_oracle(verb: str, t_min: int, t_max: int, interval: int, cutoff: str = "strict") -> str:
    lo_us = t_min * US
    if cutoff == "strict":
        hi_us = t_max * US
    else:  # taggregator trailing-bucket compat (SURVEY.md §2.3.2); the
        # max(…, 2) floor mirrors the do-while's ≥2-bucket output
        n_full = (t_max - t_min) // interval
        hi_us = (t_min + max(n_full + 1, 2) * interval) * US
    agg = {
        "max": "MAX(value) AS max_value",
        "min": "MIN(value) AS min_value",
        "sum": f"{_sql_dsum('value')} AS sum_value",
        "avg": f"{_sql_davg('value')} AS avg_value",
        "count": "COUNT(value) AS count_value",
    }[verb]
    return f"""
        SELECT {_bucket_sql(t_min, interval)} AS bucket_ms, {agg}
        FROM events
        WHERE epoch_us(ts) >= {lo_us} AND epoch_us(ts) < {hi_us}
        GROUP BY 1 ORDER BY 1
    """


# -- reference-parity time-series queries (SURVEY.md §2.1 rows 7-15) --------
for _verb in ("max", "min", "sum", "avg", "count"):
    _register(
        f"ts_{_verb}_900",
        _ts_query(_verb, T0, T_WEEK, 900),
        _ts_oracle(_verb, T0, T_WEEK, 900),
    )
_register(
    "ts_max_28800_compat",
    _ts_query("max", T0, T_MONTH - 3601, 28800, "taggregator"),
    _ts_oracle("max", T0, T_MONTH - 3601, 28800, "taggregator"),
)
_register(
    "ts_avg_900_odd_start",
    _ts_query("avg", T_ODD, T_ODD + 4 * 86400, 900),
    _ts_oracle("avg", T_ODD, T_ODD + 4 * 86400, 900),
)


def _ts_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All five verbs in one single-scan pass (the reference's '96 queries →
    1 scan' claim, generalized to multi-verb — README.md:5)."""
    events = load_table(spark, sf_dir, "events")
    q = (
        TimeseriesAggregator(spark)
        .table(events)
        .range(T0, T_MONTH)
        .interval(28800)
    )
    df = q.agg(max="max_value", min="min_value", count="count_value")
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "max_value",
        "min_value",
        "count_value",
    )


_register(
    "ts_multi_verb_28800",
    _ts_multi,
    f"""
    SELECT {_bucket_sql(T0, 28800)} AS bucket_ms,
           MAX(value) AS max_value, MIN(value) AS min_value,
           COUNT(value) AS count_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_MONTH * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _ts_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket × series dimension — a generalization the reference's scan
    model cannot express (it collapses everything in range)."""
    events = load_table(spark, sf_dir, "events")
    q = (
        TimeseriesAggregator(spark)
        .table(events)
        .range(T0, T_MONTH)
        .interval(86400)
        .group_by("event_type")
    )
    df = q.agg(count="count_value", max="max_value")
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "event_type",
        "count_value",
        "max_value",
    )


_register(
    "ts_grouped_by_type_86400",
    _ts_grouped,
    f"""
    SELECT {_bucket_sql(T0, 86400)} AS bucket_ms, event_type,
           COUNT(value) AS count_value, MAX(value) AS max_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_MONTH * US}
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)


def _ts_rowkey_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase-shaped path: synthesize the reference's physical layout (binary
    rowkey, embedded int32 epoch-seconds, mask '00000001111'), then decode
    through the engine's mask expressions and aggregate. The oracle computes
    from the original timestamp — any decode error breaks the hash match.
    The query filters the decoded column, which cannot reach the scan, so
    the loader gets the range too; that raw-column prune is equivalent to
    the decoded-seconds filter because both bounds are whole seconds
    (floor(t) ∈ [lo, hi) ⟺ t ∈ [lo, hi))."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    shaped = events.select(
        encode_rowkey(b"evntkey", F.expr("unix_micros(ts) div 1000000")).alias("rowkey"),
        "value",
    )
    tsa = TimeseriesAggregator(spark)
    q = (
        tsa.table_from_rowkey(shaped, "00000001111")
        .range(T0, T_WEEK)
        .interval(3600)
    )
    df = q.count("count_value")
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "count_value",
    )


_register(
    "ts_rowkey_mode_3600",
    _ts_rowkey_mode,
    f"""
    SELECT ({T0 * US} + (((epoch_us(ts) // 1000000) * 1000000 - {T0 * US}) // {3600 * US}) * {3600 * US}) // 1000
             AS bucket_ms,
           COUNT(value) AS count_value
    FROM events
    WHERE (epoch_us(ts) // 1000000) * 1000000 >= {T0 * US}
      AND (epoch_us(ts) // 1000000) * 1000000 < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's latest prior-or-equal click
    (backward as-of, union+window single-shuffle implementation)."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", right_cols=["click_id"]
    )
    return joined.select(
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "event_id",
        "click_id_right",
        F.unix_micros("ts_right").alias("click_ts_us"),
    )


_register(
    "asof_purchase_to_click",
    _asof_purchase_click,
    """
    SELECT p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           p.event_id,
           c.click_id AS click_id_right,
           epoch_us(c.ts) AS click_ts_us
    FROM (SELECT user_id, ts, event_id FROM events WHERE event_type='purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type='click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)


_T2D = T0 + 2 * 86400


def _q_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-fill extension (default-off per reference semantics — empty
    buckets absent; SURVEY.md §2.3.3): every 900 s bucket appears, count 0
    when empty."""

    q = (
        TimeseriesAggregator(spark)
        .table(load_table(spark, sf_dir, "events"))
        .range(T0, _T2D)
        .interval(900)
    )
    filled = fill_gaps(
        q.count("count_value"), T0 * US, _T2D * US, 900 * US,
        fill={"count_value": 0},
    )
    return filled.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"), "count_value"
    )


_register(
    "ts_count_900_gapfilled",
    _q_gapfilled,
    f"""
    WITH buckets AS (
      SELECT unnest(generate_series({T0 * US}, {_T2D * US - 1}, {900 * US})) AS bus),
    agg AS (
      SELECT {_bucket_sql(T0, 900)} * 1000 AS bus, COUNT(value) AS c
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {_T2D * US}
      GROUP BY 1)
    SELECT bus // 1000 AS bucket_ms, COALESCE(c, 0) AS count_value
    FROM buckets LEFT JOIN agg USING (bus) ORDER BY 1
    """,
)


def _q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h size, 15 min slide): overlapping buckets the
    reference cannot express — each event lands in 4 windows."""

    ev = load_table(spark, sf_dir, "events", time_range=(T0 * US, _T2D * US))
    out = sliding_bucket_agg(
        ev, "ts", 3600, 900,
        [F.count("value").alias("count_value"), F.max("value").alias("max_value")],
    )
    return out.select(
        F.expr("window_start_us div 1000").alias("window_start_ms"),
        "count_value",
        "max_value",
    )


_register(
    "sliding_window_1h_15m",
    _q_sliding,
    f"""
    WITH s AS (
      SELECT unnest(generate_series({T0 * US - 3600 * US + 900 * US},
                                    {_T2D * US - 900 * US}, {900 * US})) AS ws)
    SELECT ws // 1000 AS window_start_ms,
           COUNT(value) AS count_value, MAX(value) AS max_value
    FROM events JOIN s
      ON ws <= epoch_us(ts) AND epoch_us(ts) < ws + {3600 * US}
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {_T2D * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (6 h inactivity gap) — `session_window`
    merge semantics (new session when gap ≥ threshold; end = last + gap)."""

    ev = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    out = session_agg(
        ev, "ts", 21600, ["user_id"],
        [F.count("value").alias("n_events"), F.max("value").alias("max_value")],
    )
    return out.select(
        "user_id", "session_start_us", "session_end_us", "n_events", "max_value"
    )


_register(
    "session_windows_6h_per_user",
    _q_sessions,
    f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t, value FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    m AS (
      SELECT *, CASE WHEN t - LAG(t) OVER w >= {21600 * US}
                       OR LAG(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    g AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id, MIN(t) AS session_start_us,
           MAX(t) + {21600 * US} AS session_end_us,
           COUNT(*) AS n_events, MAX(value) AS max_value
    FROM g GROUP BY user_id, sid
    """,
)


def _q_decoder_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColumnInterpreter analog: values stored as 8-byte big-endian longs
    (Bytes.toLong layout), decoded by the registry inside codegen, then
    bucketed — the reference's full decode→aggregate path on binary cells.
    The oracle recomputes from the original numeric column, so any
    encode/decode asymmetry (incl. the sign bit) breaks the match."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    # signed longs from pure integer math (double→long casts truncate in
    # Spark but round in DuckDB); negated for odd ids to exercise the sign
    cents = F.when(
        F.col("event_id") % 2 == 1, -F.col("event_id") * 7919
    ).otherwise(F.col("event_id") * 7919).cast("long")
    shaped = events.select(
        "ts", encode_value(cents, "long_be").alias("cell_bytes")
    )
    decoded = shaped.select("ts", decode_value("cell_bytes", "long_be").alias("value"))
    q = (
        TimeseriesAggregator(spark)
        .table(decoded)
        .range(T0, T_WEEK)
        .interval(86400)
    )
    df = q.agg(min="min_cents", max="max_cents", sum="sum_cents")
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "min_cents", "max_cents", "sum_cents",
    )


_register(
    "decoder_registry_long_be",
    _q_decoder_registry,
    f"""
    WITH shaped AS (
      SELECT ts, CAST(CASE WHEN event_id % 2 = 1
                      THEN -event_id * 7919
                      ELSE event_id * 7919 END AS BIGINT) AS value
      FROM events)
    SELECT {_bucket_sql(T0, 86400)} AS bucket_ms,
           MIN(value) AS min_cents, MAX(value) AS max_cents,
           CAST(SUM(value) AS BIGINT) AS sum_cents
    FROM shaped
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_rowkey_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's row-range predicate (start_row ≤ key < stop_row,
    TimeseriesAggregationClient.java:576-581) on binary rowkeys: BinaryType
    comparison is bytewise-lexicographic in both engines, so the oracle
    filters the same [start, stop) byte range rebuilt from the timestamp.
    The rowkey range maps 1:1 to a raw time range (whole-second bounds), so
    the scan is pruned before the keys are even synthesized."""
    events = load_table(
        spark, sf_dir, "events",
        time_range=((T0 + 3 * 86400) * US, (T0 + 5 * 86400) * US),
    )
    shaped = events.select(
        encode_rowkey(b"evntkey", F.expr("unix_micros(ts) div 1000000")).alias("rowkey"),
        "value",
    )
    start_key = b"evntkey" + (T0 + 3 * 86400).to_bytes(4, "big")
    stop_key = b"evntkey" + (T0 + 5 * 86400).to_bytes(4, "big")
    scanned = shaped.filter(
        (F.col("rowkey") >= F.lit(start_key)) & (F.col("rowkey") < F.lit(stop_key))
    )
    return scanned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
    )


_register(
    "rowkey_range_scan",
    _q_rowkey_range,
    f"""
    SELECT COUNT(*) AS n_rows, MAX(value) AS max_value, MIN(value) AS min_value
    FROM events
    WHERE epoch_us(ts) // 1000000 >= {T0 + 3 * 86400}
      AND epoch_us(ts) // 1000000 < {T0 + 5 * 86400}
    """,
)


def _q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to a uniform grid with linear interpolation of empty
    buckets: bucket avg → gap-fill → forward/backward neighbor via
    last/first over frames → linear blend. All window arithmetic; the
    oracle restates it with the same exact-rational algebra."""

    ev = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, (T0 + 2 * 86400) * US)
    ).filter(F.col("event_type") == "signup")
    q = (
        TimeseriesAggregator(spark)
        .table(ev)
        .range(T0, T0 + 2 * 86400)
        .interval(7200)
    )
    # decimal-exact bucket average so interpolation inputs match the oracle
    agg = q.aggregate(
        (F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
         / F.count("value")).alias("avg_value")
    )
    filled = fill_gaps(agg, T0 * US, (T0 + 2 * 86400) * US, 7200 * US)
    wb = W.orderBy("bucket_start_us").rowsBetween(W.unboundedPreceding, 0)
    wf = W.orderBy("bucket_start_us").rowsBetween(0, W.unboundedFollowing)
    prev_v = F.last("avg_value", ignorenulls=True).over(wb)
    next_v = F.first("avg_value", ignorenulls=True).over(wf)
    prev_t = F.last(F.when(F.col("avg_value").isNotNull(), F.col("bucket_start_us")), True).over(wb)
    next_t = F.first(F.when(F.col("avg_value").isNotNull(), F.col("bucket_start_us")), True).over(wf)
    frac = (F.col("bucket_start_us") - prev_t).cast("double") / (next_t - prev_t).cast("double")
    interp = F.when(F.col("avg_value").isNotNull(), F.col("avg_value")).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return filled.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        interp.alias("value_interp"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


_register(
    "ts_resample_interpolate_7200",
    _q_resample_interpolate,
    f"""
    WITH buckets AS (
      SELECT unnest(generate_series({T0 * US}, {(T0 + 2 * 86400) * US - 1}, {7200 * US})) AS bus),
    agg AS (
      SELECT {T0 * US} + ((epoch_us(ts) - {T0 * US}) // {7200 * US}) * {7200 * US} AS bus,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(value) AS avg_value
      FROM events
      WHERE event_type = 'signup'
        AND epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {(T0 + 2 * 86400) * US}
      GROUP BY 1),
    g AS (SELECT bus, avg_value FROM buckets LEFT JOIN agg USING (bus)),
    n AS (
      SELECT bus, avg_value,
             LAST_VALUE(avg_value IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             FIRST_VALUE(avg_value IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bus END IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bus END IGNORE NULLS) OVER
               (ORDER BY bus ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM g)
    SELECT bus // 1000 AS bucket_ms,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) * (CAST(bus - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
           END AS value_interp,
           avg_value IS NULL AS was_gap
    FROM n
    """,
)


def _q_qualifier_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.1 row 6 under the DuckDB oracle: the reference's full
    key-embedded-timestamp layout — one row per coarse period (hour) with
    the timestamp in the rowkey mask span, sub-period samples as int32
    seconds-offset qualifiers (AggregationBuilder.java:84-100; the test
    fixture's row-per-hour × qualifier layout,
    TestTimeseriesAggregateProtocol.java:110-128). Synthesized from events
    by splitting each second-truncated timestamp into (hour rowkey,
    offset-in-hour qualifier); decode must reassemble exactly or the
    oracle's bucket hash breaks."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    sec = F.expr("unix_micros(ts) div 1000000")
    shaped = events.select(
        encode_rowkey(b"evntkey", sec - (sec % 3600)).alias("rowkey"),
        (sec % 3600).cast("int").alias("qualifier_offset_s"),
        "value",
    )
    tsa = TimeseriesAggregator(spark)
    q = (
        tsa.table_from_rowkey(
            shaped, "00000001111", qualifier_col="qualifier_offset_s"
        )
        .range(T0, T_WEEK)
        .interval(900)
    )
    df = q.agg(count="count_value", max="max_value")
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "count_value",
        "max_value",
    )


_register(
    "ts_qualifier_offset_900",
    _q_qualifier_offset,
    f"""
    SELECT ({T0 * US} + (((epoch_us(ts) // 1000000) * 1000000 - {T0 * US}) // {900 * US}) * {900 * US}) // 1000
             AS bucket_ms,
           COUNT(value) AS count_value, MAX(value) AS max_value
    FROM events
    WHERE (epoch_us(ts) // 1000000) * 1000000 >= {T0 * US}
      AND (epoch_us(ts) // 1000000) * 1000000 < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """,
)


def _q_decoder_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigDecimalColumnInterpreter analog: order totals stored as scaled
    big-endian longs (unscaled cents), decoded by the registry's
    ``decimal_be_2`` inside codegen, aggregated per priority. Odd order
    keys are negated to exercise the sign bit through the byte round-trip."""
    orders = load_table(spark, sf_dir, "orders")
    signed = F.when(
        F.col("o_orderkey") % 2 == 1, -F.col("o_totalprice")
    ).otherwise(F.col("o_totalprice")).cast("decimal(12,2)")
    shaped = orders.select(
        "o_orderpriority", encode_value(signed, "decimal_be_2").alias("cell_bytes")
    )
    decoded = shaped.select(
        "o_orderpriority", decode_value("cell_bytes", "decimal_be_2").alias("v")
    )
    return decoded.groupBy("o_orderpriority").agg(
        F.min("v").alias("min_price"),
        F.max("v").alias("max_price"),
        F.sum("v").cast("decimal(18,2)").alias("sum_price"),
    )


_register(
    "decoder_registry_decimal_be",
    _q_decoder_decimal,
    """
    WITH shaped AS (
      SELECT o_orderpriority,
             CAST(CASE WHEN o_orderkey % 2 = 1 THEN -o_totalprice
                       ELSE o_totalprice END AS DECIMAL(12,2)) AS v
      FROM orders)
    SELECT o_orderpriority, MIN(v) AS min_price, MAX(v) AS max_price,
           CAST(SUM(v) AS DECIMAL(18,2)) AS sum_price
    FROM shaped GROUP BY 1
    """,
)


def _q_decoder_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoubleColumnInterpreter analog — the one HBase interpreter round 1
    left unimplemented. Bytes.toDouble (8-byte IEEE-754 big-endian) is
    reinterpreted with pure expressions (functions/decoders.py:
    power-of-two-exact scaling — no UDF), so the full decode→bucket→aggregate
    path stays in codegen. Odd event ids negate the value to push the sign
    bit through the byte round-trip; the oracle recomputes from the original
    doubles, so one wrong mantissa bit breaks min/max equality."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    signed = F.when(
        F.col("event_id") % 2 == 1, -F.col("value")
    ).otherwise(F.col("value"))
    shaped = events.select(
        "ts", encode_value(signed, "double_bits_be").alias("cell_bytes")
    )
    decoded = shaped.select(
        "ts", decode_value("cell_bytes", "double_bits_be").alias("value")
    )
    q = (
        TimeseriesAggregator(spark)
        .table(decoded)
        .range(T0, T_WEEK)
        .interval(86400)
    )
    df = q.aggregate(
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        _dsum("value", "sum_v"),
    )
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "min_v", "max_v", "sum_v",
    )


_register(
    "decoder_registry_double_be",
    _q_decoder_double,
    f"""
    WITH shaped AS (
      SELECT ts, CASE WHEN event_id % 2 = 1 THEN -value ELSE value END AS value
      FROM events)
    SELECT {_bucket_sql(T0, 86400)} AS bucket_ms,
           MIN(value) AS min_v, MAX(value) AS max_v,
           {{dsum}} AS sum_v
    FROM shaped
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1 ORDER BY 1
    """.replace("{dsum}", "CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)"),
)


def _q_rollup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate reuse: hourly rollup maintained once, daily
    answer re-aggregated FROM the rollup (max-of-max / sum-of-sum in
    decimal / count-of-count, avg at read time) — never rescanning raw
    events. The oracle aggregates the raw table directly at the daily
    grain: decimal re-summation makes the two paths bit-identical."""

    events = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US)
    )
    _fine, coarse = continuous_rollup(events, T0, T_WEEK, 3600, 86400)
    return coarse.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "max_value", "min_value", "sum_value", "count_value", "avg_value",
    )


_register(
    "ts_rollup_hourly_to_daily",
    _q_rollup_reuse,
    f"""
    SELECT {{bucket}} AS bucket_ms,
           MAX(value) AS max_value, MIN(value) AS min_value,
           {{dsum}} AS sum_value, COUNT(value) AS count_value,
           {{dsum}} / COUNT(value) AS avg_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """.format(bucket=_bucket_sql(T0, 86400), dsum=_sql_dsum("value")),
)


def _q_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (event_type, 6h bucket): irregular-sample
    LOCF weighting inside the bucket, decimal-exact value*dt accumulation.
    The oracle restates the identical lead-window algebra."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return time_weighted_avg(events, T0, T_WEEK, 21600).select(
        "event_type",
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "n_points", "covered_us", "twa_value",
    )


def _twa_sql(interval_s: int = 21600) -> str:
    lo, hi, ival = T0 * US, T_WEEK * US, interval_s * US
    return f"""
    WITH f AS (
      SELECT event_type, event_id, epoch_us(ts) AS us, value,
             {lo} + ((epoch_us(ts) - {lo}) // {ival}) * {ival} AS bus
      FROM events
      WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {hi}),
    w AS (
      SELECT event_type, bus, value,
             COALESCE(LEAD(us) OVER (PARTITION BY event_type, bus
                                     ORDER BY us, event_id),
                      bus + {ival}) - us AS dt_us
      FROM f)
    SELECT event_type, bus // 1000 AS bucket_ms,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(dt_us) AS BIGINT) AS covered_us,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT)
                    * dt_us) AS DOUBLE)
             / (CAST(SUM(dt_us) AS DOUBLE) * 1000.0) AS twa_value
    FROM w GROUP BY 1, 2
    """


_register("ts_time_weighted_avg_21600", _q_twa, _twa_sql())


def _q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style increase()/rate() with counter-reset handling per
    (event_type, 6h bucket); lag window partitioned by series only so
    deltas cross bucket boundaries."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return counter_rate(events, T0, T_WEEK, 21600).select(
        "event_type",
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "n_deltas", "n_resets", "increase", "rate_per_s",
    )


def _counter_rate_sql(interval_s: int = 21600) -> str:
    lo, hi, ival = T0 * US, T_WEEK * US, interval_s * US
    return f"""
    WITH f AS (
      SELECT event_type, event_id, epoch_us(ts) AS us, value,
             {lo} + ((epoch_us(ts) - {lo}) // {ival}) * {ival} AS bus
      FROM events
      WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {hi}),
    w AS (
      SELECT event_type, bus, value,
             LAG(value) OVER (PARTITION BY event_type
                              ORDER BY us, event_id) AS prev
      FROM f),
    c AS (
      SELECT event_type, bus, value - prev AS delta,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN value - prev < 0 THEN value
                  ELSE value - prev END AS contrib
      FROM w)
    SELECT event_type, bus // 1000 AS bucket_ms,
           CAST(COUNT(contrib) AS BIGINT) AS n_deltas,
           CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resets,
           CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE) AS increase,
           CAST(SUM(CAST(contrib AS DECIMAL(38,6))) AS DOUBLE)
             / {float(interval_s)!r} AS rate_per_s
    FROM c GROUP BY 1, 2
    """


_register("ts_counter_rate_21600", _q_counter_rate, _counter_rate_sql())


def _q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas semantics: closer of backward/
    forward, ties backward): each purchase matched to the temporally
    nearest click of the same user. Right side pre-deduped to one click
    per (user, ts) so both engines choose identically at duplicate
    timestamps."""

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    joined = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts",
        right_cols=["click_id"], direction="nearest",
    )
    return joined.select(
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "event_id",
        "click_id_right",
        F.unix_micros("ts_right").alias("click_ts_us"),
    )


_register(
    "asof_nearest_click",
    _q_asof_nearest,
    """
    WITH p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, MIN(event_id) AS click_id FROM events
          WHERE event_type = 'click' GROUP BY 1, 2),
    b AS (
      SELECT p.user_id, p.ts, p.event_id, c.click_id, c.ts AS cts
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
    f AS (
      SELECT p.user_id, p.ts, p.event_id, c.click_id, c.ts AS cts
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts)
    SELECT b.user_id, epoch_us(b.ts) AS purchase_ts_us, b.event_id,
           CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL OR
                     epoch_us(b.ts) - epoch_us(b.cts)
                       <= epoch_us(f.cts) - epoch_us(f.ts))
                THEN b.click_id ELSE f.click_id END AS click_id_right,
           CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL OR
                     epoch_us(b.ts) - epoch_us(b.cts)
                       <= epoch_us(f.cts) - epoch_us(f.ts))
                THEN epoch_us(b.cts) ELSE epoch_us(f.cts) END AS click_ts_us
    FROM b JOIN f ON f.event_id = b.event_id
    """,
)


def _q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares slope from exact int64 moments, cross
    terms in deterministic double arithmetic."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return linear_trend(events, T0, T_WEEK)


_register(
    "ts_linear_trend_per_type",
    _q_linear_trend,
    f"""
    WITH d AS (
      SELECT event_type,
             (epoch_us(ts) - {T0 * US}) // 1000000 AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    mo AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM d GROUP BY 1)
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / 100.0 AS slope_per_s
    FROM mo
    """,
)


def _q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row z-score outliers per series (population variance
    over cent-quantized int64 frame sums; |z| >= 2 flagged)."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return rolling_zscore_anomalies(events, T0, T_WEEK).select(
        "event_type", "event_id", "us", "v", "n", "zscore"
    )


_register(
    "ts_rolling_zscore_outliers",
    _q_rolling_zscore,
    f"""
    WITH d AS (
      SELECT event_type, event_id, epoch_us(ts) AS us, value AS v,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cy
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    w AS (
      SELECT event_type, event_id, us, v, cy,
             COUNT(*) OVER fr AS n,
             CAST(SUM(cy) OVER fr AS BIGINT) AS sy,
             CAST(SUM(cy * cy) OVER fr AS BIGINT) AS syy
      FROM d
      WINDOW fr AS (PARTITION BY event_type ORDER BY us, event_id
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT event_type, event_id, us, v, n,
           (CAST(cy AS DOUBLE) - CAST(sy AS DOUBLE) / n)
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                    / (CAST(n AS DOUBLE) * n)) AS zscore
    FROM w
    WHERE n * syy - sy * sy > 0
      AND abs((CAST(cy AS DOUBLE) - CAST(sy AS DOUBLE) / n)
              / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n))) >= 2.0
    """,
)


def _q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB shape-preserving downsampling to 50 points/series via
    applyInPandas (grouped map). The interior selection is SEQUENTIAL
    (each bucket's pick depends on the previous pick), which kept this
    rows-only through r7 — but sequential is not non-relational: the
    pick chain is a linear recursion over 48 interior buckets, and every
    quantity in it is exact integer algebra (µs x, HALF_UP-cents y,
    doubled-triangle areas as HUGEINT cross products with the next
    bucket's centroid multiplied through by its size), so a RECURSIVE
    CTE restates it with zero float divergence risk (promoted in r8).
    The pinned pure-Python reference
    (tests/reference_sim.py::lttb_reference) independently asserts EXACT
    row equality per series on this very query (tests/test_round6.py) —
    the SQL oracle and the CI reference now pin the operator from two
    directions."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    return lttb_downsample(events, n_out=50).select(
        "event_type", "event_id", "ts_us", "value"
    )


def _lttb_sql(n_out: int = 50) -> str:
    """LTTB restated as a recursive CTE. Shape: pts = per-series ordered
    points with 1-based rank; bounds/nsum precompute each interior
    bucket's range and its NEXT-anchor centroid sums (the last bucket's
    next anchor is the final point); sel walks the recursion — the
    anchor row of step b+1 is step b's pick, the argmax is a correlated
    ORDER BY area DESC, rn LIMIT 1 (strict > keeps the earliest point,
    exactly the operator's tie rule). DuckDB SUM(BIGINT) is HUGEINT, and
    the cross products are forced through HUGEINT before multiplying by
    the cents delta (ax·m ~ 1e18 times 1e5 cents overflows int64; the
    Python sides use arbitrary-precision ints). Series with n <= n_out
    pass through whole, like the operator."""
    nb = n_out - 2
    return f"""
    WITH RECURSIVE
    pts AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cy,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY epoch_us(ts), event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}),
    big AS (SELECT DISTINCT event_type, n FROM pts WHERE n > {n_out}),
    bounds AS (
      SELECT big.event_type, big.n, b.b,
             2 + ((big.n - 2) * b.b) // {nb} AS lo,
             2 + ((big.n - 2) * (b.b + 1)) // {nb} AS hi
      FROM big, (SELECT unnest(range(0, {nb})) AS b) b),
    nsum AS (
      SELECT bo.event_type, bo.b, COUNT(*) AS m,
             SUM(p.ts_us) AS csx, SUM(p.cy) AS csy
      FROM bounds bo JOIN pts p ON p.event_type = bo.event_type
       AND p.rn >= CASE WHEN bo.b < {nb - 1}
                        THEN 2 + ((bo.n - 2) * (bo.b + 1)) // {nb}
                        ELSE bo.n END
       AND p.rn <  CASE WHEN bo.b < {nb - 1}
                        THEN 2 + ((bo.n - 2) * (bo.b + 2)) // {nb}
                        ELSE bo.n + 1 END
      GROUP BY 1, 2),
    sel AS (
      SELECT event_type, -1 AS b, CAST(1 AS BIGINT) AS rn FROM big
      UNION ALL
      SELECT s.event_type, s.b + 1,
             (SELECT p.rn
              FROM pts p, bounds bo, nsum ns, pts a
              WHERE bo.event_type = s.event_type AND bo.b = s.b + 1
                AND ns.event_type = s.event_type AND ns.b = s.b + 1
                AND a.event_type = s.event_type AND a.rn = s.rn
                AND p.event_type = s.event_type
                AND p.rn >= bo.lo AND p.rn < bo.hi
              ORDER BY abs((CAST(a.ts_us AS HUGEINT) * ns.m - ns.csx)
                             * (p.cy - a.cy)
                           - (a.ts_us - p.ts_us)
                             * (ns.csy - CAST(a.cy AS HUGEINT) * ns.m)) DESC,
                       p.rn ASC
              LIMIT 1)
      FROM sel s WHERE s.b + 1 < {nb})
    SELECT p.event_type, p.event_id, p.ts_us, p.value
    FROM (SELECT event_type, rn FROM sel
          UNION ALL SELECT event_type, n FROM big
          UNION ALL SELECT event_type, rn FROM pts WHERE n <= {n_out}) k
    JOIN pts p ON p.event_type = k.event_type AND p.rn = k.rn
    """


_register("ts_lttb_downsample_50", _q_lttb, _lttb_sql())


def _q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: hourly rollups of two DISJOINT
    half-week slices merged by partial-state algebra, then re-aggregated
    daily — bit-identical to a raw daily scan of the whole week (the
    oracle), proving state mergeability without history rescans."""

    t_mid = T0 + 84 * 3600  # 3.5 days — hour-aligned split
    ev1 = load_table(spark, sf_dir, "events", time_range=(T0 * US, t_mid * US))
    ev2 = load_table(spark, sf_dir, "events", time_range=(t_mid * US, T_WEEK * US))
    fine1, _ = continuous_rollup(ev1, T0, t_mid, 3600, 3600)
    fine2, _ = continuous_rollup(ev2, t_mid, T_WEEK, 3600, 3600)
    merged = merge_rollups([fine1, fine2])
    return read_rollup(merged, T0, 86400).select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "max_value", "min_value", "sum_value", "count_value",
    )


_register(
    "ts_rollup_incremental_merge",
    _q_rollup_merge,
    f"""
    SELECT {{bucket}} AS bucket_ms,
           MAX(value) AS max_value, MIN(value) AS min_value,
           {{dsum}} AS sum_value, COUNT(value) AS count_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """.format(bucket=_bucket_sql(T0, 86400), dsum=_sql_dsum("value")),
)


def _q_calendar_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-grain rollup (ISO week via date_trunc — Monday start, UTC
    pinned by session.configure) — the variable-width bucket family the
    fixed-interval engine core cannot express."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_MONTH * US))
    wk = F.date_trunc("week", F.col("ts"))
    return (
        events.groupBy(F.unix_millis(wk).alias("week_start_ms"))
        .agg(
            F.count("value").alias("n_events"),
            _dsum("value", "sum_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("week_start_ms")
    )


def _calendar_weekly_sql() -> str:
    return f"""
    SELECT CAST(epoch_ms(date_trunc('week', ts)) AS BIGINT) AS week_start_ms,
           COUNT(value) AS n_events,
           {_sql_dsum('value')} AS sum_value,
           MAX(value) AS max_value
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_MONTH * US}
    GROUP BY 1
    """


_register("ts_calendar_rollup_weekly", _q_calendar_weekly, _calendar_weekly_sql())


_EWMA_ALPHA, _EWMA_K, _EWMA_IVAL = 0.3, 8, 3600


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US)
    )
    return ewma_truncated(
        events, T0, T_WEEK, _EWMA_IVAL, alpha=_EWMA_ALPHA, k=_EWMA_K
    )


def _ewma_sql() -> str:
    # integer fixed-point restatement — see ewma_truncated's exactness note
    lo, hi = T0 * US, T_WEEK * US
    ival = _EWMA_IVAL * US
    wq = [int(round((1.0 - _EWMA_ALPHA) ** j * 1_000_000)) for j in range(_EWMA_K)]
    lags = ",\n               ".join(
        f"lag(xq, {j}) OVER w AS xq{j}" for j in range(1, _EWMA_K)
    )
    num = " + ".join(
        [f"xq * {wq[0]}"]
        + [f"COALESCE(xq{j} * {wq[j]}, 0)" for j in range(1, _EWMA_K)]
    )
    den = " + ".join(
        [f"{wq[0]}"]
        + [
            f"CASE WHEN xq{j} IS NOT NULL THEN {wq[j]} ELSE 0 END"
            for j in range(1, _EWMA_K)
        ]
    )
    return f"""
    WITH b AS (
        SELECT event_type,
               {lo} + ((epoch_us(ts) - {lo}) // {ival}) * {ival} AS bucket_start_us,
               SUM(CAST(value AS DECIMAL(28,6))) AS s,
               COUNT(*) AS n
        FROM events
        WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {hi}
        GROUP BY 1, 2
    ), q0 AS (
        SELECT event_type, bucket_start_us, s, n,
               CAST(s * 1000000 AS BIGINT) AS sq
        FROM b
    ), q AS (
        SELECT event_type, bucket_start_us,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS x,
               (sq - (((sq % n) + n) % n)) // n AS xq
        FROM q0
    ), l AS (
        SELECT event_type, bucket_start_us, x, xq,
               {lags}
        FROM q
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start_us)
    )
    SELECT event_type, bucket_start_us, x AS bucket_avg,
           CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) / 1000000.0 AS ewma
    FROM l
    """


_register("ts_ewma_smoothed_3600", _q_ewma, _ewma_sql())


def _q_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US)
    )
    return largest_gaps(events, T0, T_WEEK, n=3)


_register(
    "ts_largest_gaps_per_type",
    _q_gaps,
    f"""
    WITH d AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY epoch_us(ts), event_id
               ) AS gap_start_us
        FROM events
        WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    ), g AS (
        SELECT event_type, event_id, us, gap_start_us,
               us - gap_start_us AS gap_us
        FROM d WHERE gap_start_us IS NOT NULL
    ), r AS (
        SELECT event_type, gap_us, gap_start_us, us,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY gap_us DESC, gap_start_us ASC, event_id ASC
               ) AS gap_rank
        FROM g
    )
    SELECT event_type, CAST(gap_rank AS BIGINT) AS gap_rank, gap_us,
           gap_start_us, us AS gap_end_us
    FROM r WHERE gap_rank <= 3
    """,
)


_OVL_GRID_US = 86_400 * US  # daily grid ~ median regime length


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    regimes = (
        scd2_from_events(events)
        .select(
            "user_id",
            F.col("run_id").alias("a_id"),
            F.col("valid_from_us").alias("a_lo"),
            F.coalesce(F.col("valid_to_us"), F.lit(T_MONTH * US)).alias(
                "a_hi"
            ),
        )
    )
    sessions = session_agg(
        events, "ts", 21_600, ["user_id"], [F.count(F.lit(1)).alias("n")]
    ).select(
        "user_id",
        F.col("session_start_us").alias("b_id"),
        F.col("session_start_us").alias("b_lo"),
        F.col("session_end_us").alias("b_hi"),
    )
    return interval_overlap_join(
        regimes, sessions, ["user_id"], _OVL_GRID_US
    )


_register(
    "interval_overlap_regimes_sessions",
    _q_interval_overlap,
    f"""
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        FROM events WHERE user_id % 20 = 0
    ), m AS (
        SELECT *,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), runs AS (
        SELECT *,
               CAST(SUM(chg) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS run_id
        FROM m
    ), regimes AS (
        SELECT user_id, run_id AS a_id, MIN(us) AS a_lo,
               COALESCE(
                   lead(MIN(us)) OVER (
                       PARTITION BY user_id ORDER BY run_id),
                   {T_MONTH * US}) AS a_hi
        FROM runs GROUP BY user_id, run_id
    ), sm AS (
        SELECT user_id, us,
               CASE WHEN us - lag(us) OVER sw >= {21_600 * US}
                         OR lag(us) OVER sw IS NULL THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW sw AS (PARTITION BY user_id ORDER BY us)
    ), sg AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM sm
    ), sessions AS (
        SELECT user_id, MIN(us) AS b_id, MIN(us) AS b_lo,
               MAX(us) + {21_600 * US} AS b_hi
        FROM sg GROUP BY user_id, sid
    )
    SELECT r.user_id, r.a_id, s.b_id, r.a_lo, r.a_hi, s.b_lo, s.b_hi,
           LEAST(r.a_hi, s.b_hi) - GREATEST(r.a_lo, s.b_lo) AS overlap_us
    FROM regimes r JOIN sessions s
      ON r.user_id = s.user_id AND r.a_lo < s.b_hi AND s.b_lo < r.a_hi
    """,
)


def _q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_outliers(load_table(spark, sf_dir, "events"))


_register(
    "ts_mad_outliers_per_type",
    _q_mad,
    """
    WITH base AS (
        SELECT event_type, value AS v, event_id AS tb FROM events
    ), c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1
    ), med AS (
        SELECT event_type, v AS med FROM (
            SELECT event_type, v,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY v, tb) AS rn
            FROM base) r JOIN c USING (event_type)
        WHERE rn = (n + 1) // 2
    ), dev AS (
        SELECT base.event_type, v, tb, med, abs(v - med) AS d
        FROM base JOIN med ON base.event_type = med.event_type
    ), mad AS (
        SELECT event_type, d AS mad FROM (
            SELECT event_type, d,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY d, tb) AS rn
            FROM dev) r JOIN c USING (event_type)
        WHERE rn = (n + 1) // 2
    )
    SELECT dev.event_type, med, mad,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CASE WHEN d > mad * 1.4826 * 3.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY 1, 2, 3
    """,
)


def _q_seasonal_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US)
    )
    lo, ival, day = T0 * US, 3600 * US, 86_400 * US
    b = (
        events.withColumn(
            "bucket_start_us",
            F.expr(f"{lo} + ((unix_micros(ts) - {lo}) div {ival}) * {ival}"),
        )
        .groupBy("event_type", "bucket_start_us")
        .agg(
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)"
            ).alias("_sq"),
            F.count(F.lit(1)).alias("_n"),
        )
        # explicit floor (as ewma_truncated): engine-exact on negatives too
        .select(
            "event_type",
            "bucket_start_us",
            F.expr("(_sq - (((_sq % _n) + _n) % _n)) div _n").alias("xq"),
        )
    )
    prev = b.select(
        "event_type",
        (F.col("bucket_start_us") + day).alias("bucket_start_us"),
        F.col("xq").alias("xq_prev"),
    )
    return (
        b.join(prev, ["event_type", "bucket_start_us"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.sum(F.abs(F.col("xq") - F.col("xq_prev"))).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1_000_000.0))
            ).alias("seasonal_mae"),
        )
        .orderBy("event_type")
    )


_register(
    "ts_seasonal_baseline_error",
    _q_seasonal_err,
    f"""
    WITH b0 AS (
        SELECT event_type,
               {T0 * US} + ((epoch_us(ts) - {T0 * US}) // {3600 * US})
                   * {3600 * US} AS bucket_start_us,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)
                   AS sq,
               COUNT(*) AS n
        FROM events
        WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
        GROUP BY 1, 2
    ), b AS (
        SELECT event_type, bucket_start_us,
               (sq - (((sq % n) + n) % n)) // n AS xq
        FROM b0
    )
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(abs(a.xq - p.xq)) AS BIGINT) AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS seasonal_mae
    FROM b a JOIN b p
      ON a.event_type = p.event_type
     AND p.bucket_start_us + {86_400 * US} = a.bucket_start_us
    GROUP BY 1
    """,
)


def _q_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    # open regimes sentinel-code their end: asof's column carry skips
    # NULLs, which would leak the PREVIOUS regime's valid_to into the
    # residual check (see asof_join's caveat)
    open_end = 1 << 62
    regimes = scd2_from_events(events).select(
        "user_id",
        F.col("event_type").alias("regime_type"),
        "valid_from_us",
        F.coalesce("valid_to_us", F.lit(open_end)).alias("valid_to_us"),
    )
    obs = events.filter(F.col("event_id") % 5 == 0).select(
        "user_id", "event_id", F.unix_micros("ts").alias("obs_us")
    )
    j = asof_join(
        obs,
        regimes.select("user_id", "regime_type", "valid_from_us", "valid_to_us"),
        ["user_id"],
        "obs_us",
        "valid_from_us",
        right_cols=["regime_type", "valid_to_us"],
        direction="backward",
    )
    # residual validity check: as-of gives the latest regime STARTED at or
    # before the observation; it must also not have ENDED (open regimes
    # have NULL valid_to)
    return (
        j.filter(
            F.col("valid_from_us_right").isNotNull()
            & (F.col("obs_us") < F.col("valid_to_us_right"))
        )
        .select(
            "user_id",
            "event_id",
            "obs_us",
            F.col("regime_type_right").alias("regime_type"),
            F.col("valid_from_us_right").alias("regime_from_us"),
        )
        .orderBy("user_id", "event_id")
    )


_register(
    "pit_feature_lookup_regimes",
    _q_pit_lookup,
    """
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        FROM events WHERE user_id % 20 = 0
    ), m AS (
        SELECT *,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), runs AS (
        SELECT *,
               CAST(SUM(chg) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS run_id
        FROM m
    ), agg AS (
        SELECT user_id, run_id, MIN(event_type) AS regime_type,
               MIN(us) AS valid_from_us
        FROM runs GROUP BY user_id, run_id
    ), regimes AS (
        SELECT user_id, run_id, regime_type, valid_from_us,
               lead(valid_from_us) OVER (
                   PARTITION BY user_id ORDER BY run_id) AS valid_to_us
        FROM agg
    ), obs AS (
        SELECT user_id, event_id, epoch_us(ts) AS obs_us FROM events
        WHERE user_id % 20 = 0 AND event_id % 5 = 0
    )
    SELECT o.user_id, o.event_id, o.obs_us,
           r.regime_type, r.valid_from_us AS regime_from_us
    FROM obs o JOIN regimes r
      ON o.user_id = r.user_id
     AND r.valid_from_us <= o.obs_us
     AND (r.valid_to_us IS NULL OR o.obs_us < r.valid_to_us)
    """,
)


def _q_hbase_rowshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → HBase cell stream (12-byte rowkey = 8-byte BE event_id +
    4-byte BE epoch-seconds; cf 'd', qualifier 'v', double value as
    8-byte IEEE bits — the reference's physical layout) with TWO versions
    per cell: an older decoy at ``value + 1000`` (cell_ts=1) under the
    true value (cell_ts=2), so a pivot that picks anything but the
    newest version breaks the oracle hash. The cell stream then runs the
    full no-jar connector contract: catalog JSON → latest-version pivot →
    type decode → ``table_from_rowkey`` mask extraction → t_min-aligned
    hourly count+sum over [T0, T_WEEK).

    100 TB shape: cell synthesis and both encodes are map-side JVM
    expressions over the pruned scan; the pivot is ONE hash aggregation
    keyed on the binary rowkey (exactly what the real connector emits per
    region, here expressed relationally); the bucketed aggregation
    reuses the engine core's partial/final shape.
    """

    events = load_table(
        spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US)
    )
    # project the (large) IEEE-bit encode expression trees into plain
    # columns BEFORE the explode: inlining them inside the Generate's
    # array literal blows the generated consume function past janino's
    # method limits and drops the stage out of whole-stage codegen
    encoded = events.select(
        F.concat(
            encode_value(F.col("event_id"), "long_be"),
            encode_rowkey(b"", F.expr("unix_micros(ts) div 1000000")),
        ).alias("rowkey"),
        encode_value(F.col("value") + F.lit(1000.0), "double_bits_be").alias(
            "__v_old"
        ),
        encode_value(F.col("value"), "double_bits_be").alias("__v_new"),
    )
    versions = F.array(
        F.struct(
            F.lit(1).cast("long").alias("cell_ts"),
            F.col("__v_old").alias("value"),
        ),
        F.struct(
            F.lit(2).cast("long").alias("cell_ts"),
            F.col("__v_new").alias("value"),
        ),
    )
    cells = encoded.select(
        "rowkey",
        F.lit("d").alias("cf"),
        F.lit("v").alias("qualifier"),
        F.explode(versions).alias("__c"),
    ).select(
        "rowkey",
        "cf",
        "qualifier",
        F.col("__c.value").alias("value"),
        F.col("__c.cell_ts").alias("cell_ts"),
    )
    catalog = hbase_catalog(
        "metrics",
        {
            "rowkey": ("rowkey", "key", "binary"),
            "value": ("d", "v", "double"),
        },
    )
    table = load_hbase_fixture(spark, catalog, cells)
    q = (
        TimeseriesAggregator(spark)
        .table_from_rowkey(table, "000000001111")
        .range(T0, T_WEEK)
        .interval(3600)
    )
    df = q.aggregate(
        F.count(F.col("value")).alias("count_value"),
        _dsum("value", "sum_value"),
    )
    return df.select(
        F.expr("bucket_start_us div 1000").alias("bucket_ms"),
        "count_value",
        "sum_value",
    )


# the oracle restates the END-TO-END semantics directly on the parquet
# source: the latest version carries the true value (the cell_ts=1 decoy
# must never surface), the double bit round-trip and mask decode are
# identity up to second flooring, and the buckets are t_min-aligned
# hourly. Any defect in the pivot, decode, or mask path diverges from
# this restatement.
_register(
    "hbase_rowshape_bucketed_agg",
    _q_hbase_rowshape,
    f"""
    WITH e AS (
      SELECT epoch_us(ts) // 1000000 AS sec, value
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US})
    SELECT CAST(({T0} + ((sec - {T0}) // 3600) * 3600) * 1000 AS BIGINT)
             AS bucket_ms,
           COUNT(value) AS count_value,
           {_sql_dsum("value")} AS sum_value
    FROM e GROUP BY 1 ORDER BY 1
    """,
)
