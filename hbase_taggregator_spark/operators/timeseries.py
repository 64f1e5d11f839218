"""Interval-bucketed time-series aggregation — the reference-parity core.

Computes ``{bucket_start → max|min|sum|avg|count}`` over a time range in a
single declarative pass, preserving the semantics of the reference's
coprocessor pipeline (/root/reference):

- t_min-aligned half-open buckets ``[t_min + k·interval, t_min + (k+1)·interval)``
  — NOT epoch-aligned (``TimeseriesAggregateImplementation.java:78-99``;
  golden ``testMaxWithValidRangeBeginningAtOddTime``).
- two cutoff modes: ``strict`` (scanner-time-range mode, hard stop at t_max —
  ``TimeseriesAggregateImplementation.java:82-83,119``) and ``taggregator``
  (key-mode compat: the reference's do-while emits one trailing bucket past
  t_max and key-mode scans leak later data into it —
  ``TimeseriesAggregateImplementation.java:107-111``, ``README.md:29``).
- empty buckets absent from the result (``Max.java:29-34`` — maps only gain
  entries when a cell lands in the bucket).
- ``avg`` is Double regardless of input type
  (``TimeseriesAggregationClient.java:547-557`` ``divideForAvg``); ``count``
  counts non-null values/cells (``Count.java:26-35``).
- sorted ``{bucket_start_ms → value}`` result at the API edge, mirroring the
  client's ``ConcurrentSkipListMap`` (``TimeseriesAggregationClient.java:130``).

Row order: like a SQL ``GROUP BY``, the bucketed frames — the verbs,
:meth:`TimeseriesQuery.aggregate`, :func:`merge_rollups`,
:func:`read_rollup`, :func:`continuous_rollup` and :func:`fill_gaps` —
promise no row order. The one sorted edge is :meth:`TimeseriesQuery.to_map`,
which sorts the collected buckets on the driver; a caller who needs ordered
rows adds ``.orderBy("bucket_start_us", *dims)``. A distributed sort of a
result of a few thousand rows would cost a range-partition sampling job and
a sort stage per query.

Physical shape (why this scales): bucket assignment is integer arithmetic on
epoch-micros — a codegen'd projection, O(1) per row (the reference probes a
bucket list linearly per cell, ``Max.java:26-28``). The groupBy compiles to
partial HashAggregate on each partition → shuffle of ≤ one row per (bucket ×
partition) → final HashAggregate: exactly the reference's region-partial +
client-merge topology (``TimeseriesAggregationClient.java:167-195``) but
executed by Tungsten with map-side combine, so shuffled bytes are bounded by
bucket-count × partitions, independent of input rows. At 100 TB the plan is
scan → codegen'd project/filter → partial agg → tiny shuffle → final agg.
The range filter compares the stored timestamp column with literal bounds
(``TimeseriesQuery._rows``), so a query over a plain parquet read skips row
groups by its own range.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, replace
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

US_PER_SECOND = 1_000_000

#: cutoff modes
STRICT = "strict"
TAGGREGATOR = "taggregator"

_VERB_EXPRS = {
    "max": lambda v: F.max(v),
    "min": lambda v: F.min(v),
    "sum": lambda v: F.sum(v),
    "avg": lambda v: F.avg(v),
    "count": lambda v: F.count(v),
}


def _bucket_start(us_sql: str, lo_us: int, ival_us: int) -> Column:
    """t_min-aligned bucket start of the epoch-µs SQL expression ``us_sql``:
    ``lo + ((us − lo) div ival)·ival`` — pure int64 arithmetic (codegen'd,
    O(1)/row); integer ``div`` keeps exactness for any epoch range."""
    return F.expr(f"{lo_us} + (({us_sql} - {lo_us}) div {ival_us}) * {ival_us}")


def to_epoch_us(t: Any) -> int:
    """Normalize int/float epoch-seconds, datetime, or ISO string → epoch µs.

    Naive datetimes/strings are interpreted as UTC (the reference works in
    TZ-naive epoch seconds; we pin UTC — SURVEY.md §7 'hard parts').
    """
    if isinstance(t, bool):
        raise ValueError(f"invalid time bound: {t!r}")
    if isinstance(t, int):
        return t * US_PER_SECOND
    if isinstance(t, float):
        return round(t * US_PER_SECOND)
    if isinstance(t, str):
        t = dt.datetime.fromisoformat(t)
    if isinstance(t, dt.datetime):
        if t.tzinfo is None:
            t = t.replace(tzinfo=dt.timezone.utc)
        return round(t.timestamp() * US_PER_SECOND)
    raise ValueError(f"invalid time bound: {t!r}")


@dataclass(frozen=True)
class TimeseriesQuery:
    """Immutable builder for one bucketed-aggregation query.

    Mirrors the reference client's constructor parameters
    ``(interval, t_min, t_max, key_pattern)``
    (``TimeseriesAggregationClient.java:72-99``) plus generalizations the
    scan model could not express (extra group-by dimensions, multi-verb
    single-pass aggregation).
    """

    df: DataFrame
    ts_col: str = "ts"
    value_col: str = "value"
    t_min_us: int | None = None
    t_max_us: int | None = None
    interval_us: int | None = None
    cutoff: str = STRICT
    dims: tuple[str, ...] = ()

    # -- builder steps -------------------------------------------------
    def range(self, t_min: Any, t_max: Any) -> "TimeseriesQuery":
        """Half-open time range [t_min, t_max). Validated like the
        reference: start must precede stop
        (``TimeseriesAggregationClient.java:575-581`` → IOException; here
        ValueError)."""
        lo, hi = to_epoch_us(t_min), to_epoch_us(t_max)
        if lo >= hi:
            raise ValueError(f"invalid time range: start {lo} >= stop {hi}")
        return replace(self, t_min_us=lo, t_max_us=hi)

    def interval(self, seconds: int | float) -> "TimeseriesQuery":
        us = round(seconds * US_PER_SECOND)
        if us <= 0:
            raise ValueError(f"interval must be positive, got {seconds}")
        return replace(self, interval_us=us)

    def mode(self, cutoff: str) -> "TimeseriesQuery":
        """'strict' (scanner-range semantics, default) or 'taggregator'
        (reference key-mode trailing-bucket compat — SURVEY.md §2.3.2)."""
        if cutoff not in (STRICT, TAGGREGATOR):
            raise ValueError(f"cutoff must be 'strict' or 'taggregator', got {cutoff!r}")
        return replace(self, cutoff=cutoff)

    def group_by(self, *dims: str) -> "TimeseriesQuery":
        """Extra grouping dimensions (series key, event type, …) — a
        generalization: the reference collapses everything in scan range."""
        return replace(self, dims=tuple(dims))

    # -- internals -----------------------------------------------------
    def _check_range_only(self) -> None:
        if self.interval_us is None:
            raise ValueError("interval() must be set before aggregating")
        if self.t_min_us is None or self.t_max_us is None:
            raise ValueError("range() must be set before aggregating")
        cols = set(self.df.columns)
        for c in (self.ts_col, *self.dims):
            if c not in cols:
                raise ValueError(f"column {c!r} not in input ({sorted(cols)})")

    def upper_bound_us(self) -> int:
        """Effective exclusive upper bound of the bucketed region.

        strict: t_max. taggregator: end of the trailing bucket the
        reference's do-while always emits — with n = ⌊(t_max−t_min)/ival⌋,
        bound = t_min + max(n+1, 2)·ival (one bucket past t_max; for an
        exactly aligned range that is one whole extra bucket, reproducing the
        9-vs-8 golden discrepancy in
        ``TestTimeseriesAggregateProtocol.java:149-158`` vs ``:294-302``).
        The max(…, 2) floor matches the do-while's append-before-test shape
        (``TimeseriesAggregateImplementation.java:78-111``): the initial
        bucket plus at least one appended trailing bucket, so a range shorter
        than one interval still buckets cells in
        [t_min+ival, t_min+2·ival)."""
        assert self.t_min_us is not None and self.t_max_us is not None
        if self.cutoff == STRICT:
            return self.t_max_us
        assert self.interval_us is not None
        n_full = (self.t_max_us - self.t_min_us) // self.interval_us
        return self.t_min_us + max(n_full + 1, 2) * self.interval_us

    def bucket_start_us(self) -> Column:
        """Bucket assignment (:func:`_bucket_start`) — equivalent to
        ``window(ts, ival, startTime=t_min % ival)`` but avoids the struct
        build."""
        return _bucket_start(
            f"unix_micros(`{self.ts_col}`)", self.t_min_us, self.interval_us
        ).alias("bucket_start_us")

    def _rows(self) -> DataFrame:
        """The input rows of the bucketed region: half-open
        ``t_min ≤ ts < upper_bound_us()`` on the timestamp column itself,
        against foldable ``timestamp_micros`` literals. On a parquet read
        this reaches the scan as ``PushedFilters`` (row-group skipping — the
        reference's scan-range bound,
        ``TimeseriesAggregationClient.java:576-581``), which
        ``unix_micros(ts) >= lo`` never does."""
        ts = F.col(self.ts_col)
        return self.df.filter(
            (ts >= F.timestamp_micros(F.lit(self.t_min_us)))
            & (ts < F.timestamp_micros(F.lit(self.upper_bound_us())))
        )

    def _bucketed(self, aggs: Iterable[tuple[str, str]]) -> DataFrame:
        """The verbs: :meth:`aggregate` over the named verb columns."""
        self._check_range_only()
        if self.value_col not in self.df.columns:
            raise ValueError(
                f"column {self.value_col!r} not in input ({sorted(self.df.columns)})"
            )
        return self.aggregate(
            *[_VERB_EXPRS[verb](self.value_col).alias(alias) for verb, alias in aggs]
        ).select("bucket_start", "bucket_start_us", *self.dims,
                 *[alias for _, alias in aggs])

    # -- verbs (reference parity: the five RPC endpoints) --------------
    def max(self, alias: str = "max") -> DataFrame:
        """Per-bucket max (``Max.java:19-38``; RPC ``getMax``)."""
        return self._bucketed([("max", alias)])

    def min(self, alias: str = "min") -> DataFrame:
        """Per-bucket min (``Min.java:19-38``; RPC ``getMin``)."""
        return self._bucketed([("min", alias)])

    def sum(self, alias: str = "sum") -> DataFrame:
        """Per-bucket sum with Spark's native type widening
        (``Sum.java:21-40`` ``castToReturnType``+``add``)."""
        return self._bucketed([("sum", alias)])

    def avg(self, alias: str = "avg") -> DataFrame:
        """Per-bucket average → Double; Catalyst decomposes to partial
        (sum, count) + final divide — the exact algebra of the reference's
        two-phase avg (``Avg.java:21-64`` +
        ``TimeseriesAggregationClient.java:436-509,547-557``)."""
        return self._bucketed([("avg", alias)])

    def count(self, alias: str = "count") -> DataFrame:
        """Per-bucket count of non-null values (cells). Server-only in the
        reference (``Count.java``; no client method) — first-class here."""
        return self._bucketed([("count", alias)])

    def aggregate(self, *agg_cols: Column) -> DataFrame:
        """Bucket + group with caller-supplied aggregate Columns — the
        extension point for aggregates beyond the reference's five verbs
        (decimal-exact sums, percentiles, sketches…). Same single-pass
        partial/final physical shape: filter → project bucket → groupBy →
        agg; rows unordered (module docstring)."""
        self._check_range_only()
        return (
            self._rows()
            .withColumn("bucket_start_us", self.bucket_start_us())
            .groupBy("bucket_start_us", *self.dims)
            .agg(*agg_cols)
            .withColumn("bucket_start", F.timestamp_micros(F.col("bucket_start_us")))
        )

    def agg(self, **aliases: str) -> DataFrame:
        """Several verbs in one single-scan pass, e.g.
        ``q.agg(max='mx', avg='av')`` — the '96 queries → 1 scan' pitch of
        the reference (``README.md:5``), generalized to multi-verb."""
        bad = set(aliases) - set(_VERB_EXPRS)
        if bad:
            raise ValueError(f"unknown verbs: {sorted(bad)}")
        if not aliases:
            raise ValueError("agg() needs at least one verb")
        return self._bucketed(list(aliases.items()))

    # -- result edge ---------------------------------------------------
    def to_map(self, df: DataFrame | None = None) -> dict[int, Any]:
        """Collect to the reference's result shape: a sorted
        ``{bucket_start_millis → value}`` dict
        (``ConcurrentSkipListMap`` — ``TimeseriesAggregationClient.java:130``).
        Only valid for single-verb, no-dims queries."""
        if df is None:
            raise ValueError("pass the aggregated DataFrame to to_map()")
        val_cols = [c for c in df.columns
                    if c not in ("bucket_start", "bucket_start_us")]
        if len(val_cols) != 1:
            raise ValueError("to_map() needs exactly one value column")
        out: dict[int, Any] = {
            r["bucket_start_us"] // 1000: r[val_cols[0]] for r in df.collect()
        }
        return dict(sorted(out.items()))


def fill_gaps(
    agg_df: DataFrame,
    t_min_us: int,
    upper_us: int,
    interval_us: int,
    fill: dict[str, Any] | None = None,
) -> DataFrame:
    """Zero-fill extension (default OFF — the reference emits no row for an
    empty bucket, SURVEY.md §2.3.3): left-join the aggregated result onto
    the complete bucket sequence; missing aggregates become ``fill`` values
    (or NULL).

    The sequence is generated JVM-side (one row, exploded) and the join key
    is the bucket integer — broadcast-sized for any sane bucket count
    (a year of 15-min buckets is 35k rows). Rows unordered (module
    docstring)."""
    spark = agg_df.sparkSession
    n = (upper_us - t_min_us - 1) // interval_us
    full = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(t_min_us),
                F.lit(t_min_us + n * interval_us),
                F.lit(interval_us),
            )
        ).alias("bucket_start_us")
    )
    out = F.broadcast(full).join(agg_df.drop("bucket_start"), "bucket_start_us", "left")
    for col, v in (fill or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(v)))
    return out.withColumn("bucket_start", F.timestamp_micros(F.col("bucket_start_us")))


class TimeseriesAggregator:
    """Facade mirroring the reference client's public API
    (``TimeseriesAggregationClient.java:129-141`` — ``max/min/sum/avg`` plus
    the server-only count), built on DataFrames.

    >>> tsa = TimeseriesAggregator(spark)
    >>> q = (tsa.table(events_df).range('2024-01-01', '2024-01-02')
    ...        .interval(900))
    >>> q.max().show()            # DataFrame of {bucket_start, max}, unordered
    >>> q.to_map(q.max())         # {bucket_start_ms: value} sorted dict
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def table(
        self,
        df: DataFrame | str,
        ts_col: str = "ts",
        value_col: str = "value",
    ) -> TimeseriesQuery:
        """Start a query from a DataFrame or a registered view name."""
        if isinstance(df, str):
            df = self.spark.table(df)
        return TimeseriesQuery(df=df, ts_col=ts_col, value_col=value_col)

    def table_from_rowkey(
        self,
        df: DataFrame | str,
        mask: str,
        rowkey_col: str = "rowkey",
        qualifier_col: str | None = None,
        value_col: str = "value",
    ) -> TimeseriesQuery:
        """Start a query from HBase-shaped input: binary rowkey with an
        embedded int32 epoch-seconds timestamp selected by ``mask``, plus an
        optional int32 seconds-offset qualifier column — the reference's
        key-embedded-timestamp mode (``AggregationBuilder.java:84-120``).
        The time column is decoded once per row: the range filter and the
        bucket both read the one decoded value."""
        from hbase_taggregator_spark.sources.rowkey import rowkey_timestamp

        if isinstance(df, str):
            df = self.spark.table(df)
        # a withColumn is inlined into both range comparisons and the bucket;
        # a filter on a generator's output stays above it, so one decode serves all
        ts = rowkey_timestamp(rowkey_col, mask, qualifier_col)
        df = df.select("*", F.explode(F.array(ts)).alias("__event_ts"))
        return TimeseriesQuery(df=df, ts_col="__event_ts", value_col=value_col)


def continuous_rollup(
    events: DataFrame,
    t_min: Any,
    t_max: Any,
    fine_interval_s: int,
    coarse_interval_s: int,
    ts_col: str = "ts",
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Continuous-aggregate (hypertable-rollup) pattern: maintain a FINE
    bucketed rollup once, answer COARSE queries by re-aggregating the
    rollup instead of rescanning raw events — max-of-max, min-of-min,
    sum-of-sum, count-of-count, with avg derived at read time from
    (sum, count). The extension the reference's fixed-interval API invites
    but never ships (its client re-scans per interval —
    TimeseriesAggregationClient.java:199-214); TimescaleDB/Druid-style
    materialized rollups are the standard answer at 100 TB: the coarse read
    touches |range|/fine_interval rollup rows, not the raw table.

    Exactness discipline: the fine sum accumulates in DECIMAL(28,6) and
    STAYS decimal through the re-aggregation (decimal re-sum is exact and
    order-free, so coarse-from-fine ≡ coarse-from-raw bit-for-bit — the
    gate query's oracle aggregates the raw table directly); only the final
    projection casts to double. ``coarse_interval_s`` must be a multiple of
    ``fine_interval_s``: both levels are t_min-aligned, so fine buckets
    nest exactly into coarse ones.

    Returns ``(fine, coarse)``: the fine rollup (materialize it with any
    sink — it is the continuously-maintained table; at ingest time a stream
    keeps it with ``streaming.stream_aggregate(stream, t_min,
    fine_interval_s, *rollup_state(value_col))``, the
    ``streaming_continuous_rollup`` query) and its :func:`read_rollup` at the
    coarse interval."""
    if coarse_interval_s % fine_interval_s:
        raise ValueError(
            f"coarse interval {coarse_interval_s} must be a multiple of the "
            f"fine interval {fine_interval_s} (t_min-aligned nesting)"
        )
    fine = TimeseriesQuery(df=events, ts_col=ts_col, value_col=value_col).range(
        t_min, t_max
    ).interval(fine_interval_s).aggregate(*rollup_state(value_col))
    return fine, read_rollup(fine, t_min, coarse_interval_s)


def rollup_state(value_col: str = "value") -> list[Column]:
    """The rollup's partial state per bucket — max, min, DECIMAL(28,6) sum,
    count: the per-region partials of the reference's client merge
    (``TimeseriesAggregationClient.java:167-195``), with avg carried as its
    (sum, count) pair (``Avg.java:21-64``). :func:`merge_rollups` merges it."""
    v = F.col(value_col)
    return [
        F.max(v).alias("max_value"),
        F.min(v).alias("min_value"),
        F.sum(v.cast("decimal(28,6)")).alias("sum_dec"),
        F.count(v).alias("count_value"),
    ]


def read_rollup(rollup: DataFrame, t_min: Any, interval_s: int) -> DataFrame:
    """Read rollup state on a coarser t_min-aligned grid: regrid each bucket
    (:func:`_bucket_start`), :func:`merge_rollups`, then finalize — the
    decimal sum becomes the double ``sum_value`` and ``avg_value`` is
    sum / count (the reference's ``divideForAvg``,
    ``TimeseriesAggregationClient.java:547-557``). ``interval_s`` must be a
    multiple of the rollup's interval, on the grid started at ``t_min``.
    Returns {bucket_start_us, max_value, min_value, sum_value, count_value,
    avg_value}, rows unordered (module docstring)."""
    regridded = rollup.select(
        _bucket_start(
            "bucket_start_us", to_epoch_us(t_min), interval_s * US_PER_SECOND
        ).alias("bucket_start_us"),
        "max_value", "min_value", "sum_dec", "count_value",
    )
    total = F.col("sum_dec").cast("double")
    return merge_rollups([regridded]).select(
        "bucket_start_us",
        "max_value",
        "min_value",
        total.alias("sum_value"),
        F.col("count_value").cast("long").alias("count_value"),
        (total / F.col("count_value")).alias("avg_value"),
    )


def time_weighted_avg(
    events: DataFrame,
    t_min: Any,
    t_max: Any,
    interval_s: int,
    ts_col: str = "ts",
    value_col: str = "value",
    series_cols: tuple[str, ...] = ("event_type",),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average per (series, bucket) — the irregular-sampling
    aggregate (TimescaleDB ``time_weight``-style, last-observation-carried-
    forward) the reference's row-count AVG cannot express: each observation
    holds its value from its own timestamp until the next observation of
    the same series within the bucket, or the bucket end. Holds do not
    cross bucket boundaries (each bucket is summarized from the samples
    that land in it — the choice that keeps the operator a single
    window + groupBy, no inter-bucket carry join).

    Exactness: the value is quantized ONCE to DECIMAL(18,3) — the same
    raw-column cast class every oracle-green aggregate here uses — and
    everything after is exact int64 algebra: unscaled(value)·dt_us summed
    as BIGINT, converted to double only at the end (int64→double and the
    final divide are IEEE correctly-rounded in both engines). Summing
    double PRODUCTS through a decimal cast is NOT portable — Spark rounds
    the exact binary expansion (BigDecimal half-up) while DuckDB scales in
    double first, and the two disagree on computed products (observed:
    per-term ±1e-6 at DECIMAL(28,6), final-ulp drift at DECIMAL(38,6)
    where the unscaled sum exceeds 2^53 and DuckDB double-rounds the
    conversion). Overflow bound: |value|·interval_us must stay below
    9.2e15 (int64 / the 10^3 quantization) — at 1-day buckets that is
    |value| < 1e5. Ties on the timestamp are ordered by ``tiebreak_col``
    in both engines.

    Physical shape at 100 TB: one shuffle on (series, bucket) for the lead
    window — the same key the final groupBy uses, so Catalyst reuses the
    partitioning and the aggregation adds no second exchange.
    """
    q = TimeseriesQuery(events, ts_col=ts_col).range(t_min, t_max).interval(interval_s)
    us = F.unix_micros(F.col(ts_col))
    from pyspark.sql import Window as W

    w = W.partitionBy(*series_cols, "bucket_start_us").orderBy("us", tiebreak_col)
    d = (
        q._rows()
        .select(
            *series_cols,
            tiebreak_col,
            us.alias("us"),
            F.col(value_col).alias("v"),
            q.bucket_start_us(),
        )
        .withColumn(
            "dt_us",
            F.coalesce(F.lead("us").over(w), F.col("bucket_start_us") + q.interval_us)
            - F.col("us"),
        )
    )
    return (
        d.groupBy(*series_cols, "bucket_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("dt_us").alias("covered_us"),
            F.sum(
                F.expr("CAST(CAST(v AS DECIMAL(18,3)) * 1000 AS BIGINT)")
                * F.col("dt_us")
            ).alias("__wsum_u"),
        )
        .select(
            *series_cols,
            "bucket_start_us",
            "n_points",
            "covered_us",
            (
                F.col("__wsum_u").cast("double")
                / (F.col("covered_us").cast("double") * F.lit(1000.0))
            ).alias("twa_value"),
        )
        .orderBy(*series_cols, "bucket_start_us")
    )


def counter_rate(
    events: DataFrame,
    t_min: Any,
    t_max: Any,
    interval_s: int,
    ts_col: str = "ts",
    value_col: str = "value",
    series_cols: tuple[str, ...] = ("event_type",),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Monotone-counter increase/rate per (series, bucket) with reset
    handling — Prometheus ``increase()`` semantics: per series ordered by
    time, each observation contributes ``value - lag(value)``, or just
    ``value`` when the delta is negative (the counter restarted from zero);
    the first observation of a series in range has no baseline and
    contributes nothing. Contributions are attributed to the bucket of the
    observation. ``rate_per_s`` divides the bucket increase by the interval.

    Exactness: the delta is one IEEE subtract, accumulated in
    DECIMAL(38,6); reset counting is integer. The lag window partitions by
    SERIES ONLY (deltas must cross bucket boundaries), so at 100 TB the
    series key must be fine-grained (host, shard — as in any Prometheus
    TSDB); the subsequent per-(series, bucket) groupBy is a prefix of that
    ordering and needs no second sort.
    """
    q = TimeseriesQuery(events, ts_col=ts_col).range(t_min, t_max).interval(interval_s)
    us = F.unix_micros(F.col(ts_col))
    from pyspark.sql import Window as W

    w = W.partitionBy(*series_cols).orderBy("us", tiebreak_col)
    d = (
        q._rows()
        .select(
            *series_cols, tiebreak_col, us.alias("us"), F.col(value_col).alias("v"),
            q.bucket_start_us(),
        )
        .withColumn("prev", F.lag("v").over(w))
        .withColumn("delta", F.col("v") - F.col("prev"))
        .withColumn(
            "contrib",
            F.when(F.col("prev").isNull(), F.lit(None).cast("double"))
            .when(F.col("delta") < 0, F.col("v"))
            .otherwise(F.col("delta")),
        )
    )
    return (
        d.groupBy(*series_cols, "bucket_start_us")
        .agg(
            F.count("contrib").alias("n_deltas"),
            F.sum(
                F.when(F.col("delta") < 0, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_resets"),
            F.sum(F.col("contrib").cast("decimal(38,6)")).alias("__inc"),
        )
        .select(
            *series_cols,
            "bucket_start_us",
            "n_deltas",
            "n_resets",
            F.col("__inc").cast("double").alias("increase"),
            (F.col("__inc").cast("double") / F.lit(float(interval_s))).alias(
                "rate_per_s"
            ),
        )
        .orderBy(*series_cols, "bucket_start_us")
    )


def linear_trend(
    events: DataFrame,
    t_min: Any,
    t_max: Any,
    ts_col: str = "ts",
    value_col: str = "value",
    series_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Per-series least-squares trend (slope per second + fit size) — the
    drift/degradation detector over metric series. Closed form
    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` evaluated ENTIRELY in
    exact int64 sums: x = seconds since t_min (int), y = value quantized
    to cents (the same DECIMAL portability boundary as
    :func:`time_weighted_avg`). The moment SUMS are exact int64 (bound:
    Σx² ≤ 9.2e18 — holds through ~1e6 rows/series over a week; decimal
    sums when beyond); the CROSS terms (n·Σxy − Σx·Σy, …) are evaluated
    in double — int64→double is one correctly-rounded conversion and
    ·,−,÷ are IEEE correctly rounded, so the result is engine-portable
    where int64 cross products would silently wrap (n·Σx² overflows at
    ~100k rows/series) and big-decimal→double conversions diverge
    cross-engine. One partial/final aggregation — the moments are the
    classic distributive aggregate, no window, no second pass. Output
    slope is in VALUE UNITS per second (cents rescaled)."""
    q = TimeseriesQuery(events, ts_col=ts_col).range(t_min, t_max)
    x = F.expr(f"(unix_micros(`{ts_col}`) - {q.t_min_us}) div {US_PER_SECOND}")
    y = F.expr(f"CAST(CAST(`{value_col}` AS DECIMAL(18,2)) * 100 AS BIGINT)")
    d = (
        q._rows()
        .select(*series_cols, x.alias("x"), y.alias("y"))
        .groupBy(*series_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    dn = F.col("n").cast("double")
    dsx = F.col("sx").cast("double")
    dsy = F.col("sy").cast("double")
    num = dn * F.col("sxy").cast("double") - dsx * dsy
    den = dn * F.col("sxx").cast("double") - dsx * dsx
    return d.select(
        *series_cols,
        "n",
        (num / den / F.lit(100.0)).alias("slope_per_s"),
    ).orderBy(*series_cols)


def rolling_zscore_anomalies(
    events: DataFrame,
    t_min: Any,
    t_max: Any,
    window_rows: int = 20,
    threshold: float = 2.0,
    ts_col: str = "ts",
    value_col: str = "value",
    series_cols: tuple[str, ...] = ("event_type",),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Rolling z-score outlier detection per series: each observation is
    scored against the mean/stddev of its trailing ``window_rows``-row
    frame (population variance, the frame includes the row itself);
    |z| ≥ threshold rows are flagged. The moment sums run over
    cent-quantized int64 (exact, order-free under the deterministic
    (ts, tiebreak) frame ordering), and the z expression uses only
    correctly-rounded double ops (÷, −, ·, sqrt) — restated verbatim by
    the oracle. One shuffle on the series key; rows with zero frame
    variance are not flagged (z undefined)."""
    q = TimeseriesQuery(events, ts_col=ts_col).range(t_min, t_max)
    us = F.unix_micros(F.col(ts_col))
    from pyspark.sql import Window as W

    y = F.expr(f"CAST(CAST(`{value_col}` AS DECIMAL(18,2)) * 100 AS BIGINT)")
    w = (
        W.partitionBy(*series_cols)
        .orderBy("us", tiebreak_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    d = (
        q._rows()
        .select(
            *series_cols, tiebreak_col, us.alias("us"), y.alias("cy"),
            F.col(value_col).alias("v"),
        )
        .withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sy", F.sum("cy").over(w))
        .withColumn("syy", F.sum(F.col("cy") * F.col("cy")).over(w))
    )
    n, sy, syy, cy = F.col("n"), F.col("sy"), F.col("syy"), F.col("cy")
    var_num = (n * syy - sy * sy).cast("double")
    z = (cy.cast("double") - sy.cast("double") / n) / F.sqrt(
        var_num / (n.cast("double") * n)
    )
    return (
        d.withColumn("zscore", z)
        .filter(
            ((n * syy - sy * sy) > 0)
            & (F.abs(F.col("zscore")) >= F.lit(threshold))
        )
        .select(
            *series_cols, tiebreak_col, "us", "v", "n", "zscore"
        )
    )


def lttb_downsample(
    events: DataFrame,
    n_out: int = 100,
    ts_col: str = "ts",
    value_col: str = "value",
    series_cols: tuple[str, ...] = ("event_type",),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per series — the
    visualization/profiling reducer (Steinarsson 2013, public method) that
    keeps the n_out points preserving the series' shape: endpoints always
    survive; each interior bucket keeps the point forming the largest
    triangle with the PREVIOUSLY SELECTED point and the next bucket's
    centroid. That backward dependency makes the selection inherently
    sequential, so this is the grouped-map (``applyInPandas``) corner of
    the UDF surface: one Python pass per series, Arrow-batched, series
    partitioned by the groupBy key — at 100 TB each series downsamples
    independently in parallel and the output is n_out rows/series
    regardless of input size.

    Determinism: areas compare as exact INTEGER cross products (x in µs
    int64, y in cents int64 — doubled-triangle area, no float), centroids
    as exact rational sums (compared via cross-multiplication), ties
    broken toward the earliest (ts, tiebreak) point.
    """
    import pandas as pd

    out_schema = ", ".join(
        [f"{c} string" for c in series_cols]
        + [f"{tiebreak_col} long", "ts_us long", "value double"]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__us", tiebreak_col]).reset_index(drop=True)
        n = len(pdf)
        xs = pdf["__us"].to_numpy()
        ys = pdf["__cy"].to_numpy()
        if n <= n_out:
            idx = list(range(n))
        else:
            # bucket boundaries over the interior points (exact int math)
            interior = n - 2
            nb = n_out - 2
            bounds = [1 + (interior * b) // nb for b in range(nb + 1)]
            idx = [0]
            prev = 0
            for b in range(nb):
                lo, hi = bounds[b], bounds[b + 1]
                nlo, nhi = (bounds[b + 1], bounds[b + 2]) if b + 1 < nb else (n - 1, n)
                # next bucket centroid as exact rationals (sx/m, sy/m)
                m = nhi - nlo
                csx = int(xs[nlo:nhi].sum())
                csy = int(ys[nlo:nhi].sum())
                best, best_area = lo, -1
                ax, ay = int(xs[prev]), int(ys[prev])
                for i in range(lo, hi):
                    # |(ax-cx)(by-ay) - (ax-bx)(cy-ay)| with centroid
                    # multiplied through by m to stay integral
                    bx, by = int(xs[i]), int(ys[i])
                    area = abs(
                        (ax * m - csx) * (by - ay) - (ax - bx) * (csy - ay * m)
                    )
                    if area > best_area:
                        best, best_area = i, area
                idx.append(best)
                prev = best
            idx.append(n - 1)
        out = pdf.iloc[idx]
        cols = {c: out[c] for c in series_cols}
        cols[tiebreak_col] = out[tiebreak_col]
        cols["ts_us"] = out["__us"]
        cols["value"] = out["__v"]
        return pd.DataFrame(cols)

    us = F.unix_micros(F.col(ts_col))
    prepped = events.select(
        *series_cols,
        F.col(tiebreak_col),
        us.alias("__us"),
        F.expr(
            f"CAST(CAST(`{value_col}` AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("__cy"),
        F.col(value_col).alias("__v"),
    )
    return prepped.groupBy(*series_cols).applyInPandas(pick, out_schema)


def merge_rollups(rollups: list[DataFrame]) -> DataFrame:
    """Merge partial fine rollups (the incremental-maintenance step of
    :func:`continuous_rollup`): rollups built from disjoint slices of the
    raw table — yesterday's materialized state plus today's delta — merge
    by bucket with the same partial-state algebra (max-of-max, min-of-min,
    decimal sum-of-sum, count-of-count), so maintaining the continuous
    aggregate never rescans history. All inputs must share the fine grain
    and a common bucket grid (t_min values congruent modulo the interval);
    decimal re-summation keeps the merged state bit-identical to a
    from-scratch rollup. Shuffle: one partial/final aggregation over
    bucket-count rows — independent of raw data size; rows unordered
    (module docstring)."""
    if not rollups:
        raise ValueError("merge_rollups needs at least one rollup")
    merged = rollups[0]
    for r in rollups[1:]:
        merged = merged.unionByName(r)
    return merged.groupBy("bucket_start_us").agg(
        F.max("max_value").alias("max_value"),
        F.min("min_value").alias("min_value"),
        F.sum("sum_dec").alias("sum_dec"),
        F.sum("count_value").alias("count_value"),
    )


def ewma_truncated(
    events: DataFrame,
    t_min: Any,
    t_max: Any,
    interval_s: int,
    alpha: float = 0.3,
    k: int = 8,
    ts_col: str = "ts",
    value_col: str = "value",
    series_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Exponentially-weighted moving average over bucketed series,
    truncated to the last ``k`` buckets — the smoothing pass a metrics
    pipeline runs after rollup (monitoring dashboards, trend baselines).

    The recursive EWMA ``y_t = a·x_t + (1-a)·y_{t-1}`` accumulates history
    without bound, which is (a) unbounded state for a relational engine and
    (b) FP-order-dependent, hence not engine-portable. The truncated form
    is the standard finite-impulse restatement (pandas ``ewm(...,
    adjust=True)`` over a length-k window):

        y_t = sum_{j<k} (1-a)^j · x_{t-j}  /  sum_{j<k, lag exists} (1-a)^j

    Exactness: a chained double multiply-add is NOT engine-portable even
    with identical expression text (observed: DuckDB evaluates the same
    ``a + b*c`` chain one ulp off Spark/CPython's left-to-right order), so
    the combination runs in exact int64 fixed point: each bucket mean is
    quantized to micro-units by FLOOR division of the exact decimal sum
    (written as an explicit floor — subtract the nonnegative remainder
    before dividing — so negative bucket sums quantize identically in
    engines whose integer division truncates toward zero, like Spark's
    ``div``, and in engines that floor), weights are
    1e6-scaled integer literals, and the weighted sum/normalizer are exact
    int64; only the final division happens in double (two int64→double
    conversions + two divides, each IEEE correctly rounded). Missing
    history (first k-1 buckets of a series) renormalizes over the weights
    present — no warmup rows are dropped, matching pandas'
    ``adjust=True``. The reported ``bucket_avg`` stays the exact-sum /
    count double; ``ewma`` smooths the micro-quantized means.

    Physical shape at 100 TB: one shuffle for the per-(series, bucket)
    aggregation, then the lag chain rides a single window sorted on the
    SAME key prefix — Catalyst reuses the partitioning; k stays a literal
    column count, never a per-row array.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = TimeseriesQuery(events, ts_col=ts_col).range(t_min, t_max).interval(interval_s)
    from pyspark.sql import Window as W

    buckets = (
        q._rows()
        .withColumn("bucket_start_us", q.bucket_start_us())
        .groupBy(*series_cols, "bucket_start_us")
        .agg(
            F.sum(F.col(value_col).cast("decimal(28,6)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .withColumn("_sq", F.expr("CAST(_s * 1000000 AS BIGINT)"))
        .select(
            *series_cols,
            "bucket_start_us",
            (F.col("_s").cast("double") / F.col("_n").cast("double")).alias("x"),
            # floor(_sq / _n) for ANY sign of _sq: strip the nonnegative
            # remainder first, so `div` (truncating) sees an exact multiple
            F.expr("(_sq - (((_sq % _n) + _n) % _n)) div _n").alias("xq"),
        )
    )
    w = W.partitionBy(*series_cols).orderBy("bucket_start_us")
    lagged = buckets.select(
        *series_cols,
        "bucket_start_us",
        "x",
        "xq",
        *[F.lag("xq", j).over(w).alias(f"_xq{j}") for j in range(1, k)],
    )
    wq = [int(round((1.0 - alpha) ** j * 1_000_000)) for j in range(k)]
    num: Column = F.col("xq") * F.lit(wq[0])
    den: Column = F.lit(wq[0])
    for j in range(1, k):
        num = num + F.coalesce(F.col(f"_xq{j}") * F.lit(wq[j]), F.lit(0))
        den = den + F.when(
            F.col(f"_xq{j}").isNotNull(), F.lit(wq[j])
        ).otherwise(F.lit(0))
    return lagged.select(
        *series_cols,
        "bucket_start_us",
        F.col("x").alias("bucket_avg"),
        (
            num.cast("double") / den.cast("double") / F.lit(1_000_000.0)
        ).alias("ewma"),
    ).orderBy(*series_cols, "bucket_start_us")


def largest_gaps(
    events: DataFrame,
    t_min: Any,
    t_max: Any,
    n: int = 3,
    ts_col: str = "ts",
    series_cols: tuple[str, ...] = ("event_type",),
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Top-n largest inter-arrival gaps per series — the liveness /
    missing-data detector (a feed that went quiet shows up as one huge
    gap). Pure integer algebra: gap_us = us - lag(us) over (series; us,
    tiebreak) ordering, then a per-series top-n with deterministic
    tiebreaks (longer gap first, then earlier start, then ``tiebreak_col``).

    Physical shape: both windows share the series partitioning key — one
    shuffle, two in-partition sorts, no global sort.
    """
    q = TimeseriesQuery(events, ts_col=ts_col).range(t_min, t_max)
    us = F.unix_micros(F.col(ts_col))
    from pyspark.sql import Window as W

    order_w = W.partitionBy(*series_cols).orderBy("us", tiebreak_col)
    d = (
        q._rows()
        .select(*series_cols, tiebreak_col, us.alias("us"))
        .withColumn("gap_start_us", F.lag("us").over(order_w))
        .filter(F.col("gap_start_us").isNotNull())
        .withColumn("gap_us", F.col("us") - F.col("gap_start_us"))
    )
    rank_w = W.partitionBy(*series_cols).orderBy(
        F.col("gap_us").desc(), F.col("gap_start_us").asc(), F.col(tiebreak_col).asc()
    )
    return (
        d.withColumn("gap_rank", F.row_number().over(rank_w))
        .filter(F.col("gap_rank") <= n)
        .select(
            *series_cols,
            "gap_rank",
            "gap_us",
            "gap_start_us",
            F.col("us").alias("gap_end_us"),
        )
        .orderBy(*series_cols, "gap_rank")
    )


def mad_outliers(
    events: DataFrame,
    value_col: str = "value",
    series_cols: tuple[str, ...] = ("event_type",),
    tiebreak_col: str = "event_id",
    n_sigma: float = 3.0,
) -> DataFrame:
    """Robust anomaly counting via Median Absolute Deviation — the
    outlier detector that survives the outliers it hunts (mean/stddev
    z-scores get dragged by the very spikes being flagged; Hampel/MAD is
    the standard robust form). Per series: lower-median of the values,
    lower-median of |x - med|, and the count of points with
    |x - med| > n_sigma · 1.4826 · MAD (1.4826 = 1/Φ⁻¹(3/4), the
    Gaussian-consistency constant).

    Exactness: both medians are DISCRETE order statistics selected by
    row_number at position (n+1) div 2 under a deterministic (value,
    tiebreak) order — actual data values, no interpolation, so there is
    no cross-engine FP-formula risk; the deviation is one IEEE subtract
    and the threshold compare is a fixed three-factor product.

    Physical shape at 100 TB: two window sorts and the final count all
    partition on the series key — one shuffle, reused. Exact medians
    need a per-series sort; at extreme per-series cardinality swap in
    approx_percentile and keep the same contract (gate drops to
    rows-only, like HLL++).
    """
    from pyspark.sql import Window as W

    base = events.select(
        *series_cols,
        F.col(value_col).alias("v"),
        F.col(tiebreak_col).alias("tb"),
    )
    counts = base.groupBy(*series_cols).agg(F.count(F.lit(1)).alias("__n"))
    w_v = W.partitionBy(*series_cols).orderBy("v", "tb")
    med = (
        base.withColumn("__rn", F.row_number().over(w_v))
        .join(F.broadcast(counts), list(series_cols))
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(*series_cols, F.col("v").alias("med"))
    )
    dev = base.join(F.broadcast(med), list(series_cols)).withColumn(
        "__dev", F.abs(F.col("v") - F.col("med"))
    )
    w_d = W.partitionBy(*series_cols).orderBy("__dev", "tb")
    mad = (
        dev.withColumn("__rn", F.row_number().over(w_d))
        .join(F.broadcast(counts), list(series_cols))
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(*series_cols, F.col("__dev").alias("mad"))
    )
    thresh = F.col("mad") * F.lit(1.4826) * F.lit(n_sigma)
    return (
        dev.join(F.broadcast(mad), list(series_cols))
        .groupBy(*series_cols, "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(
                F.when(F.col("__dev") > thresh, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_outliers"),
        )
        .orderBy(*series_cols)
    )
