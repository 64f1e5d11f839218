"""The engine's query catalog: every implemented operator as a named query
over the driver test tables, with a DuckDB-equivalent ANSI-SQL oracle.

Conventions that make the Spark result hash-identical to the oracle:

- **Epoch ints, not timestamps, in outputs.** Spark collects LTZ timestamps
  through the session TZ and reads `orders`/`lineitem` as TIMESTAMP_NTZ;
  DuckDB timestamps are naive. Epoch-µs/ms bigints are representation-free
  on both sides.
- **Decimal-exact floating aggregates.** A double `SUM`'s rounding depends
  on accumulation order (partition order in Spark, vector order in DuckDB).
  Casting each addend to ``DECIMAL(28,6)`` makes the sum exact and
  order-free; the final cast back to double is then deterministic. Decimal
  midpoints at scale ≥ 1 are non-dyadic, so double→decimal rounding agrees
  between engines. Averages divide the exact sum (as double) by the count.
- **Deterministic top-k.** Every ORDER BY under a LIMIT carries a unique
  tiebreak column.

Bucketed time-series queries go through :class:`TimeseriesAggregator` — the
reference-parity engine core — and their oracles re-state the bucket algebra
(t_min-aligned integer floor) in portable SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.operators.timeseries import TimeseriesAggregator
from hbase_taggregator_spark.sources.parquet import load_table
from hbase_taggregator_spark.sources.rowkey import encode_rowkey

US = 1_000_000

# events table epoch bounds (2024-01-01 .. 2024-01-31 UTC)
T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC, seconds
T_WEEK = T0 + 7 * 86400
T_MONTH = T0 + 30 * 86400
T_ODD = T0 + 86400 + 2 * 3600 + 15 * 60  # 2024-01-02 02:15:00

DEC = "decimal(28,6)"


def _dsum(col: F.Column | str, alias: str) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def _davg(col: F.Column | str, alias: str) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def _sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"


def _sql_davg(expr: str) -> str:
    return f"{_sql_dsum(expr)} / COUNT({expr})"


def _bucket_sql(t_min_s: int, interval_s: int) -> str:
    """Portable SQL for the engine's t_min-aligned bucket start (ms)."""
    lo_us, ival_us = t_min_s * US, interval_s * US
    return (
        f"({lo_us} + ((epoch_us(ts) - {lo_us}) // {ival_us}) * {ival_us}) // 1000"
    )


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


# ---------------------------------------------------------------------------
# query + oracle registries (extended by the wave-N sections below)
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: live SERVING-PLAN factories for gates whose registered callable must
#: materialize its result (collect + createDataFrame) before a
#: run-scoped artifact directory — a persisted index, a partitioned
#: sink — vanishes with its tempdir. The materialization makes the
#: registered callable's plan a LocalTableScan, so a catalog-wide plan
#: audit over QUERIES is vacuous for EXACTLY the queries that serve
#: persisted layouts (VERDICT r14 #1). Each entry here takes (spark,
#: sf_dir, workdir), builds its artifacts under the caller-owned
#: ``workdir``, and returns the LIVE pre-materialization frame — the
#: plan a production deployment would run against the standing layout —
#: so tools/plan_audit.py can record real exchange / broadcast /
#: pushdown values for it. Row-pinning between each factory and its
#: registered query is asserted in tests/test_round15.py.
PLAN_FRAMES: dict[
    str, Callable[[SparkSession, str, str], DataFrame]
] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None):
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql


def _register_plan_frame(
    name: str, fn: Callable[[SparkSession, str, str], DataFrame]
) -> None:
    """Attach the live serving-plan factory for an already-registered
    materializing gate (see :data:`PLAN_FRAMES`)."""
    if name not in QUERIES:
        raise ValueError(
            f"_register_plan_frame({name!r}): register the query first — "
            "a plan frame documents the serving plan OF a catalog gate"
        )
    PLAN_FRAMES[name] = fn


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


# -- TPC-H-ish relational surface (SURVEY.md §2.2 'free generalization') ----


def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: multi-aggregate groupBy (partial agg before shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.expr("l_shipdate <= TIMESTAMP_NTZ'1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            _davg("l_quantity", "avg_qty"),
            _davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_register(
    "q1_pricing_summary",
    _q1,
    f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum('l_quantity')} AS sum_qty,
           {_sql_dsum('l_extendedprice')} AS sum_base_price,
           {_sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_sql_davg('l_quantity')} AS avg_qty,
           {_sql_davg('l_extendedprice')} AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)


def _q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: 3-way join + grouped revenue + deterministic top-10.
    customer is small → broadcast side; orders⋈lineitem shuffles on the join
    key only after filters cut both sides."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate > TIMESTAMP_NTZ'1998-01-01 00:00:00'")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_register(
    "q3_shipping_priority",
    _q3,
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)


def _q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: big fact tables shuffle-join on keys; all four
    dimension tables broadcast (collectively < a few MB even at 100 TB fact
    scale)."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & F.expr("o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'")
        )
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


_register(
    "q5_local_supplier",
    _q5,
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)


def _q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar filter-aggregate: predicate reaches the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
            & F.col("l_discount").between(0.02, 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


_register(
    "q6_forecast_revenue",
    _q6,
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.08
      AND l_quantity < 24
    """,
)


# -- wave 2: analytic windows, top-k, set ops, grouping sets, semi/anti,
#    multi-version, as-of (SURVEY.md §2.2) --------------------------------

from hbase_taggregator_spark.operators.asof import asof_join  # noqa: E402
from hbase_taggregator_spark.operators.relational import (  # noqa: E402
    anti_join,
    grouping_cube,
    grouping_rollup,
    latest_versions,
    semi_join,
    top_k_per_group,
)


def _q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer: join + grouped agg + top-20."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_register(
    "q10_returned_items",
    _q10_returned,
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)


def _topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window operator: top-3 parts by revenue within each brand
    (row_number over partitioned window; single shuffle on p_brand)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    return top_k_per_group(
        rev, ["p_brand"], "revenue", 3, descending=True, tiebreak=["p_partkey"]
    )


_register(
    "window_topk_parts_per_brand",
    _topk_parts,
    """
    WITH rev AS (
      SELECT p_brand, p_partkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, p_partkey)
    SELECT p_brand, p_partkey, revenue FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
                                   ORDER BY revenue DESC, p_partkey) AS rk
      FROM rev) WHERE rk <= 3
    """,
)


def _running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame: per-customer running order total (decimal-exact so
    the cumulative double is order-independent across engines)."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
    )


_register(
    "window_running_order_total",
    _running_totals,
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    """,
)


def _user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead: mean inter-event gap per user (integer µs arithmetic —
    deterministic division at the end only)."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("avg_gap_us"),
    )


_register(
    "window_lag_user_gaps",
    _user_gaps,
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT user_id, COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) AS avg_gap_us
    FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
    """,
)


def _rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets with deterministic '(all)' subtotal labels."""
    orders = load_table(spark, sf_dir, "orders")
    return grouping_rollup(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice", "total_price"),
    )


_register(
    "rollup_order_status_priority",
    _rollup_orders,
    """
    SELECT COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
           COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)


def _cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return grouping_cube(
        li,
        ["l_returnflag", "l_linestatus"],
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_quantity", "sum_qty"),
    )


_register(
    "cube_returnflag_linestatus",
    _cube_lineitem,
    """
    SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
           COALESCE(l_linestatus, '(all)') AS l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


def _setops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: purchasers ∩ error-reporters ∖ signups."""
    events = load_table(spark, sf_dir, "events")

    def users(t: str) -> DataFrame:
        return events.filter(F.col("event_type") == t).select("user_id")

    return (
        users("purchase").intersect(users("error")).exceptAll(users("signup").distinct())
    )


_register(
    "setops_purchase_error_users",
    _setops_users,
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)


def _semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti joins: per nation, customers with ≥1 order filed in 2001
    and customers with none at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.filter(F.expr("o_orderdate >= TIMESTAMP_NTZ'2001-01-01 00:00:00'"))
    with_recent = semi_join(
        cust, recent, cust.c_custkey == recent.o_custkey
    ).groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_with_recent"))
    without_any = anti_join(
        cust, orders, cust.c_custkey == orders.o_custkey
    ).groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_without_orders"))
    return (
        with_recent.join(without_any, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.coalesce("n_with_recent", F.lit(0)).alias("n_with_recent"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


_register(
    "semi_anti_customer_orders",
    _semi_anti,
    """
    WITH wr AS (
      SELECT c_nationkey, COUNT(*) AS n_with_recent FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
      GROUP BY c_nationkey),
    wo AS (
      SELECT c_nationkey, COUNT(*) AS n_without_orders FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey)
    SELECT COALESCE(wr.c_nationkey, wo.c_nationkey) AS c_nationkey,
           COALESCE(n_with_recent, 0) AS n_with_recent,
           COALESCE(n_without_orders, 0) AS n_without_orders
    FROM wr FULL OUTER JOIN wo ON wr.c_nationkey = wo.c_nationkey
    """,
)


def _distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (approx_count_distinct is exercised in the
    rows-only query below — HLL sketches are engine-specific)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


_register(
    "distinct_counts_lineitem",
    _distinct_counts,
    """
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)


#: HLL++ error-bound gate: Spark's ``approx_count_distinct`` default
#: rsd is 0.05 (one standard error of the estimate); the verdict bound
#: is 3 standard errors. Observed at the committed operating points the
#: worst relative error is 6.4% (sf0.001 l_orderkey ≈ 1.3σ), so the
#: gate is green with margin while still catching a broken sketch (a
#: wrong register merge or hash is off by far more than 3σ).
_HLL_BOUND = 0.15


def _approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct as an ERROR-BOUND VERDICT gate (the
    ``percentile_approx_accuracy_gate`` pattern, r8): sketch estimates
    are engine-specific so the estimate itself cannot hash-match, but
    the claim that matters — |HLL − exact| / exact ≤ 3·rsd — can. The
    output carries the exact counts (restated by the oracle) plus one
    boolean verdict per column, computed in the SAME single-pass
    aggregate that produces the estimates (HLL and exact partials merge
    side-by-side — still one shuffle). The r7-and-earlier form returned
    the raw estimates rows-only; this form is fully oracle-matched."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey").alias("__ap"),
        F.approx_count_distinct("l_suppkey").alias("__as"),
        F.approx_count_distinct("l_orderkey").alias("__ao"),
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.countDistinct("l_suppkey").alias("n_supps_exact"),
        F.countDistinct("l_orderkey").alias("n_orders_exact"),
    )

    def _ok(apx: str, exact: str) -> F.Column:
        # guard the denominator (r8 ADVICE): on an empty / all-NULL
        # column the exact count is 0 and the relative-error division
        # would RAISE under ANSI mode instead of returning a verdict —
        # CaseWhen evaluates branches lazily, so the division never runs
        # when exact = 0; the degenerate verdict is exact equality
        # (HLL of an empty sketch is 0), matching the oracle's TRUE.
        err = F.abs(F.col(apx) - F.col(exact)) / F.col(exact)
        return F.when(F.col(exact) > 0, err <= F.lit(_HLL_BOUND)).otherwise(
            F.col(apx) == F.col(exact)
        )

    return agg.select(
        "n_parts_exact",
        "n_supps_exact",
        "n_orders_exact",
        _ok("__ap", "n_parts_exact").alias("parts_within_bound"),
        _ok("__as", "n_supps_exact").alias("supps_within_bound"),
        _ok("__ao", "n_orders_exact").alias("orders_within_bound"),
    )


_register(
    "approx_distinct_lineitem",
    _approx_distinct,
    """
    SELECT COUNT(DISTINCT l_partkey) AS n_parts_exact,
           COUNT(DISTINCT l_suppkey) AS n_supps_exact,
           COUNT(DISTINCT l_orderkey) AS n_orders_exact,
           TRUE AS parts_within_bound,
           TRUE AS supps_within_bound,
           TRUE AS orders_within_bound
    FROM lineitem
    """,
)


def _latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-version reads: newest 2 events per user — the generalized form
    of the reference's max_versions scan knob (Client.proto:248)."""
    events = load_table(spark, sf_dir, "events")
    newest = latest_versions(
        events.withColumn("ts_us", F.unix_micros("ts")), ["user_id"], "ts_us", n=2
    )
    return newest.select("user_id", "ts_us", "event_id", "event_type")


_register(
    "multiversion_latest_2_per_user",
    _latest_events,
    """
    SELECT user_id, ts_us, event_id, event_type FROM (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC) AS rk
      FROM events) WHERE rk <= 2
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


# -- wave 3: text / dedup / similarity (registers into this catalog) --------
import hbase_taggregator_spark.queries_ext  # noqa: E402,F401
