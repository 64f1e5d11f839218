"""Relational catalog: the TPC-H-shaped queries and the relational operators.

Grouping sets, semi/anti and band joins, analytic windows, set operations,
sketches, profiling, PageRank, the SQL entry point, UDAF/UDTF, layouts and
sink round-trips. Outputs follow the registry's conventions: epoch ints,
decimal-exact sums and a unique tiebreak under every LIMIT.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from hbase_taggregator_spark.catalog.registry import (
    DEC,
    T0,
    T_MONTH,
    T_WEEK,
    US,
    _bucket_sql,
    _davg,
    _dsum,
    _register,
    _register_served,
    _sql_davg,
    _sql_dsum,
)
from hbase_taggregator_spark.engine import Engine
from hbase_taggregator_spark.functions.udafs import int_sum, weighted_cents_sum
from hbase_taggregator_spark.functions.udtfs import register_udtfs
from hbase_taggregator_spark.operators.dedup import _hash60
from hbase_taggregator_spark.operators.graph import pagerank
from hbase_taggregator_spark.operators.profile import (
    parse_json_quarantine,
    profile_columns,
    skew_report,
)
from hbase_taggregator_spark.operators.relational import (
    anti_join,
    grouping_cube,
    grouping_rollup,
    latest_versions,
    merge_upsert,
    range_band_join,
    salted_count_distinct,
    scd2_from_events,
    semi_join,
    table_diff,
    top_k_per_group,
)
from hbase_taggregator_spark.operators.sketch import (
    bloom_filter_semi,
    bloom_sql_positions,
    kmv_distinct,
    kmv_grouped_distinct,
    kmv_set_ops,
)
from hbase_taggregator_spark.sources.layout import zvalue, zvalue_sql
from hbase_taggregator_spark.sources.parquet import load_table
from hbase_taggregator_spark.sources.sinks import (
    write_csv,
    write_json,
    write_orc,
    write_partitioned,
)
from hbase_taggregator_spark.util import local_df


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


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event-type count matrix (explicit value list so the
    plan needs no extra distinct pass)."""

    ev = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_MONTH * US))
    day = F.expr(f"(unix_micros(ts) - {T0 * US}) div {86400 * US}")
    out = (
        ev.withColumn("day_idx", day)
        .groupBy("day_idx")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    for t in _EVENT_TYPES:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return out


_register(
    "pivot_event_type_daily",
    _q_pivot,
    f"""
    SELECT (epoch_us(ts) - {T0 * US}) // {86400 * US} AS day_idx,
           {", ".join(f"COUNT(*) FILTER (event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_MONTH * US}
    GROUP BY 1
    """,
)


def _q_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function catalog spot check: string + math built-ins with
    identical cross-engine semantics, over a join."""

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.upper("n_name").alias("nation_uc"),
            F.length("n_name").alias("name_len"),
            F.concat(F.lower(F.substring("n_name", 1, 3)), F.lit("-"),
                     F.col("n_nationkey").cast("string")).alias("tag"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            # floor/ceil return LONG in Spark but DOUBLE in DuckDB — cast
            F.floor(F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double"))
            .cast("double").alias("floor_bal"),
            F.ceil(
                F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double")
                / F.count("c_acctbal")
            ).cast("double").alias("ceil_avg_bal"),
            F.max(F.abs(F.col("c_acctbal"))).alias("max_abs_bal"),
        )
    )


_register(
    "scalar_functions_showcase",
    _q_scalar_fns,
    """
    SELECT upper(n_name) AS nation_uc,
           length(n_name) AS name_len,
           concat(lower(substr(n_name, 1, 3)), '-', CAST(n_nationkey AS VARCHAR)) AS tag,
           COUNT(*) AS n_cust,
           FLOOR(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)) AS floor_bal,
           CEIL(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal)) AS ceil_avg_bal,
           MAX(ABS(c_acctbal)) AS max_abs_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2, 3
    """,
)


def _q_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function catalog over TIMESTAMP_NTZ (year/month/day extraction
    is TZ-free on NTZ in both engines)."""

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.quarter("o_orderdate").alias("o_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.month("o_orderdate")).alias("min_month"),
            F.max(F.dayofmonth("o_orderdate")).alias("max_day"),
        )
    )


_register(
    "date_functions_orders",
    _q_date_fns,
    """
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
           EXTRACT(QUARTER FROM o_orderdate) AS o_quarter,
           COUNT(*) AS n_orders,
           MIN(EXTRACT(MONTH FROM o_orderdate)) AS min_month,
           MAX(EXTRACT(DAY FROM o_orderdate)) AS max_day
    FROM orders GROUP BY 1, 2
    """,
)


def _q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q7-style: shipping volume between supplier and customer nations per
    year (two broadcast dims + year extraction on NTZ)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "volume"),
             F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("n_items") >= 5)
    )


_register(
    "q7_nation_volume",
    _q7_volume,
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l_shipdate) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS volume,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name != n2.n_name
    GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
    """,
)


def _q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q14-style: conditional aggregation — promo revenue share in 1997."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            F.expr("l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'")
        )
        .agg(
            _dsum(promo, "promo_revenue"),
            _dsum(rev, "total_revenue"),
        )
    )


_register(
    "q14_promo_revenue",
    _q14_promo,
    """
    SELECT CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
)


def _q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (decorrelated the Spark way: window mean
    per group + filter) — customers above their nation's average balance."""
    cust = load_table(spark, sf_dir, "customer")

    w = W.partitionBy("c_nationkey")
    # exact group mean via decimal sum / count (order-free)
    nation_avg = (
        F.sum(F.col("c_acctbal").cast("decimal(28,6)")).over(w).cast("double")
        / F.count("c_acctbal").over(w)
    )
    return (
        cust.withColumn("nation_avg", nation_avg)
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
    )


_register(
    "correlated_above_avg_balance",
    _q_above_avg,
    """
    WITH a AS (
      SELECT c_nationkey AS k,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal) AS nation_avg
      FROM customer GROUP BY 1)
    SELECT c_custkey, c_nationkey, c_acctbal, nation_avg
    FROM customer JOIN a ON c_nationkey = a.k
    WHERE c_acctbal > nation_avg
    """,
)


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per series — Spark `percentile` and
    DuckDB `quantile_cont` share the p·(n−1) linear-interpolation definition,
    so the doubles match bit-for-bit on sorted identical inputs."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


_register(
    "percentiles_per_event_type",
    _q_percentiles,
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
)


def _q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic arg-max per group (ties broken by max id): two-level
    aggregate instead of `max_by`/`arg_max`, whose tie-breaking is
    engine-arbitrary."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.groupBy("event_type").agg(F.max("value").alias("max_value"))
    return (
        ev.join(F.broadcast(mx), "event_type")
        .filter(F.col("value") == F.col("max_value"))
        .groupBy("event_type", "max_value")
        .agg(F.max("event_id").alias("argmax_event_id"))
    )


_register(
    "argmax_event_per_type",
    _q_argmax,
    """
    WITH mx AS (SELECT event_type, MAX(value) AS max_value FROM events GROUP BY 1)
    SELECT e.event_type, max_value, MAX(event_id) AS argmax_event_id
    FROM events e JOIN mx ON e.event_type = mx.event_type AND e.value = mx.max_value
    GROUP BY 1, 2
    """,
)


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates from exact decimal moments: Welford-style
    native stddev/corr are accumulation-order-dependent in the last bits, so
    variance/stddev/correlation are derived from order-free decimal sums
    (Σx, Σx², Σxy) with the final arithmetic in double — deterministic in
    both engines.

    The scale-12 sums go decimal→string→double on BOTH sides: DuckDB's
    direct int128-decimal→double cast divides in floating point and can be
    off by one ulp (observed at sf0.01), while string→double parsing is
    correctly rounded everywhere."""
    ev = load_table(spark, sf_dir, "events")
    dx = F.col("value").cast("decimal(28,6)")
    dy = F.col("user_id").cast("decimal(28,6)")

    def _d12(c):  # exact decimal sum → correctly-rounded double
        return F.sum(c.cast("decimal(38,12)")).cast("string").cast("double")

    n = F.count("value")
    sx = F.sum(dx).cast("double")
    sxx = _d12(dx * dx)
    sy = F.sum(dy).cast("double")
    syy = _d12(dy * dy)
    sxy = _d12(dx * dy)
    var = (sxx - sx * sx / n) / (n - 1)
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        (sx / n).alias("mean_value"),
        var.alias("var_samp"),
        F.sqrt(var).alias("stddev_samp"),
        corr.alias("corr_value_user"),
    )


_register(
    "stats_moments_per_type",
    _q_moments,
    """
    WITH m AS (
      SELECT event_type, COUNT(value) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(28,6)) * CAST(value AS DECIMAL(28,6)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(user_id AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(CAST(user_id AS DECIMAL(28,6)) * CAST(user_id AS DECIMAL(28,6)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(28,6)) * CAST(user_id AS DECIMAL(28,6)) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           sx / n AS mean_value,
           (sxx - sx * sx / n) / (n - 1) AS var_samp,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_samp,
           (sxy - sx * sy / n) /
             (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_value_user
    FROM m
    """,
)


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column support: extract the integer `k` from the
    JSON `props` string and aggregate it per event_type (JVM-side
    get_json_object — no schema declaration needed)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


_register(
    "json_props_extract",
    _q_json_props,
    """
    SELECT event_type,
           COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)


def _q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (no partsupp table in the fixture, so lineitem is the
    part↔supplier price list): for each size-15 part, the minimum offered
    price and the lowest-keyed supplier offering it — a correlated scalar
    subquery (min over the same fact), decorrelated into an aggregate +
    re-join; ties resolved deterministically by MIN(suppkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supp = load_table(spark, sf_dir, "supplier")
    min_price = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    best = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(min_price, "l_partkey")
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .groupBy("p_partkey", "p_brand", "min_price")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
    )
    return best.join(
        F.broadcast(supp), F.col("best_suppkey") == F.col("s_suppkey")
    ).select("p_partkey", "p_brand", "min_price", "best_suppkey", "s_name")


_register(
    "q2_min_cost_supplier",
    _q2_min_cost,
    """
    WITH mp AS (
      SELECT l_partkey, MIN(l_extendedprice) AS min_price
      FROM lineitem GROUP BY 1),
    best AS (
      SELECT p_partkey, p_brand, min_price, MIN(l_suppkey) AS best_suppkey
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN mp ON mp.l_partkey = p_partkey
                       AND l_extendedprice = min_price
      WHERE p_size = 15
      GROUP BY 1, 2, 3)
    SELECT p_partkey, p_brand, min_price, best_suppkey, s_name
    FROM best JOIN supplier ON s_suppkey = best_suppkey
    """,
)


def _q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape: multi-fact join (lineitem ⋈ orders ⋈ part ⋈ supplier
    ⋈ nation) with EXPRESSION group keys (nation, order year) and a profit
    expression spanning two tables (p_retailprice stands in for the missing
    partsupp supplycost). Exercises join reordering + broadcast of all three
    dimension sides + decimal-exact signed sums."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(profit, "sum_profit"), F.count(F.lit(1)).alias("n_items"))
    )


_register(
    "q9_profit_by_nation_year",
    _q9_profit,
    """
    SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - 0.1 * p_retailprice * l_quantity
                    AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN part ON l_partkey = p_partkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)


def _q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence/funnel analytics: per user, the share of clicks followed by
    a purchase within 1 hour. The click→purchase probe is a time-banded
    semi-join per user (shuffle on user_id only; the band bounds the per-key
    fan-out)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("ct"), "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("pt")
    )
    converted = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pt") > F.col("ct"))
        & (F.col("pt") <= F.col("ct") + 3600 * US),
        "left_semi",
    )
    n_clicks = clicks.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    n_conv = converted.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_converted"))
    return (
        n_clicks.join(n_conv, "user_id", "left")
        .select(
            "user_id",
            "n_clicks",
            F.coalesce("n_converted", F.lit(0)).cast("long").alias("n_converted"),
            (F.coalesce("n_converted", F.lit(0)).cast("double") / F.col("n_clicks"))
            .alias("conversion_rate"),
        )
    )


_register(
    "funnel_click_to_purchase_1h",
    _q_funnel_conversion,
    f"""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS ct, event_id FROM events
      WHERE event_type = 'click'),
    p AS (
      SELECT user_id, epoch_us(ts) AS pt FROM events
      WHERE event_type = 'purchase'),
    conv AS (
      SELECT c.user_id, c.event_id FROM c
      WHERE EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                    AND p.pt > c.ct AND p.pt <= c.ct + {3600 * US})),
    nc AS (SELECT user_id, COUNT(*) AS n_clicks FROM c GROUP BY 1),
    nv AS (SELECT user_id, COUNT(*) AS n_converted FROM conv GROUP BY 1)
    SELECT nc.user_id, n_clicks,
           CAST(COALESCE(n_converted, 0) AS BIGINT) AS n_converted,
           CAST(COALESCE(n_converted, 0) AS DOUBLE) / n_clicks AS conversion_rate
    FROM nc LEFT JOIN nv ON nc.user_id = nv.user_id
    """,
)


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: orders whose total lineitem quantity exceeds a
    threshold — aggregate-then-having feeding a dimension join (the
    classic group-filter-join pipeline)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )


_register(
    "q18_large_orders",
    _q18_large_orders,
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) > 250)
    SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
    FROM big JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
    """,
)


def _sink_roundtrip_frame(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """Sink gate: write the corpus partitioned by language with small-file
    control (sources/sinks.py), read the directory layout back, aggregate.
    Any loss/duplication in the partitioned write breaks the count match;
    the oracle aggregates the source directly.

    Builds the layout under ``workdir`` (see :func:`_register_served`)."""

    docs = load_table(spark, sf_dir, "documents")
    path = f"{workdir}/docs_by_lang"
    write_partitioned(docs, path, ["lang"], files_per_partition=2)
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_register_served(
    "sink_partitioned_roundtrip",
    _sink_roundtrip_frame,
    """
    SELECT lang, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents GROUP BY 1
    """,
)


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram with fixed-width bins (integer floor math — the same
    portable bucket algebra as the time axis, applied to the value axis)."""
    ev = load_table(spark, sf_dir, "events")
    bin_idx = F.floor(F.col("value") / 25).cast("long")
    return (
        ev.groupBy(bin_idx.alias("bin_idx"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("value").alias("bin_min"),
             F.max("value").alias("bin_max"))
    )


_register(
    "histogram_value_25",
    _q_histogram,
    """
    SELECT CAST(FLOOR(value / 25) AS BIGINT) AS bin_idx, COUNT(*) AS n,
           MIN(value) AS bin_min, MAX(value) AS bin_max
    FROM events GROUP BY 1
    """,
)


def _q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: per-priority counts of orders that had a late-shipped
    lineitem (EXISTS with a cross-table inequality). Spark plans the EXISTS
    as a left-semi hash join on l_orderkey with the inequality as a join
    residual — shuffle on the orderkey only, no fan-out."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'")
        & F.expr("o_orderdate < TIMESTAMP_NTZ'1997-04-01 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_register(
    "q4_order_priority",
    _q4_priority_count,
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY 1
    """,
)


def _q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape: customer order-count distribution — LEFT OUTER join
    (customers with zero orders must appear with c_count=0) feeding a second
    aggregation over the first's result. Two shuffles: custkey, then the
    tiny c_count domain."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_register(
    "q13_customer_distribution",
    _q13_cust_distribution,
    """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY 1)
    SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY 1
    """,
)


def _q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape: distinct-supplier counts per part attribute triple,
    with an anti-join exclusion list (negative-balance suppliers stand in
    for the complaint filter). part is broadcast; the distinct rides the
    (brand, type, size) shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & ~F.col("p_type").startswith("PROMO")
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    ok = li.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        ok.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_register(
    "q16_parts_supplier_counts",
    _q16_supplier_counts,
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)


def _q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: lineitems below 20% of their part's average quantity
    (correlated aggregate, decorrelated into a per-part aggregate rejoin).
    The boundary predicate is decimal algebra — ``qty * 5 * cnt < sum`` —
    so both engines evaluate it exactly (no double-division ulp at the
    threshold). Per-part stats are built only for the target brand's parts,
    then broadcast."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = load_table(spark, sf_dir, "lineitem")
    brand_li = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    stats = brand_li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty_dec"),
        F.count(F.lit(1)).alias("cnt"),
    ).select(F.col("l_partkey").alias("s_partkey"), "sum_qty_dec", "cnt")
    small = brand_li.join(
        F.broadcast(stats), F.col("l_partkey") == F.col("s_partkey")
    ).filter(
        F.col("l_quantity").cast(DEC) * 5 * F.col("cnt") < F.col("sum_qty_dec")
    )
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0)
        .alias("avg_yearly")
    )


_register(
    "q17_small_quantity_revenue",
    _q17_small_quantity,
    """
    WITH brand_li AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#23'),
    stats AS (
      SELECT l_partkey AS s_partkey,
             SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sum_qty_dec,
             COUNT(*) AS cnt
      FROM brand_li GROUP BY 1)
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM brand_li JOIN stats ON l_partkey = s_partkey
    WHERE CAST(l_quantity AS DECIMAL(28,6)) * 5 * cnt < sum_qty_dec
    """,
)


def _q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: OR-of-ANDs predicate across both join sides. The
    common conjunct (the partkey equi-join) stays the join key; the
    disjunction is a residual filter — Catalyst does not turn it into a
    cartesian. Brand/size bands hit three disjoint part subsets."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_register(
    "q19_disjunctive_revenue",
    _q19_disjunctive,
    f"""
    SELECT {_sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)


def _q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape: customers above the average positive balance with no
    recent orders — scalar aggregate subquery + anti-join, grouped by a
    synthetic country code (every fixture customer has *some* order, so the
    idleness cutoff is date-scoped). The scalar threshold is broadcast as a
    1-row frame; the boundary compare is decimal ``bal * n > sum`` (exact on
    both engines)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP_NTZ'2000-01-01 00:00:00'")
    )
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal").cast(DEC) * F.col("n_pos") > F.col("sum_pos"))
    )
    idle = rich.join(
        orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return idle.groupBy(
        (F.col("c_custkey") % 7).alias("cntrycode")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        _dsum("c_acctbal", "totacctbal"),
    )


_register(
    "q22_idle_customer_balance",
    _q22_idle_customers,
    f"""
    WITH t AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS sum_pos,
             COUNT(*) AS n_pos
      FROM customer WHERE c_acctbal > 0)
    SELECT c_custkey % 7 AS cntrycode, COUNT(*) AS numcust,
           {_sql_dsum('c_acctbal')} AS totacctbal
    FROM customer, t
    WHERE CAST(c_acctbal AS DECIMAL(28,6)) * n_pos > sum_pos
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
)


def _q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via disjoint-salt partial counts —
    the skew-safe COUNT(DISTINCT) form. Exact by construction (each user
    hashes to one salt bucket), so it shares a plain-SQL oracle."""
    ev = load_table(spark, sf_dir, "events")
    return salted_count_distinct(
        ev, ["event_type"], "user_id", out_col="n_users", salt=16
    )


_register(
    "skew_salted_distinct_users",
    _q_salted_distinct,
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)


def _q_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join rewritten as an equi-join on a grid bucket: events
    joined to value bands without a nested-loop — the band side explodes
    into covered buckets, the fact side never fans out."""
    ev = load_table(spark, sf_dir, "events")
    bands = local_df(
        spark,
        [(0, 100, "low"), (100, 250, "mid"), (250, 500, "high")],
        "lo INT, hi INT, band STRING",
    )
    j = range_band_join(ev, bands, "value", grid=25)
    return j.groupBy("band", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value", "sum_value"),
    )


_register(
    "range_band_join_value",
    _q_range_band,
    f"""
    WITH bands(lo, hi, band) AS (VALUES (0, 100, 'low'), (100, 250, 'mid'),
                                        (250, 500, 'high'))
    SELECT band, lo, hi, COUNT(*) AS n_events,
           {_sql_dsum('value')} AS sum_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY 1, 2, 3
    """,
)


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than rollup/cube) through the
    SQL API, with grouping flags so subtotal rows are unambiguous."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


_register(
    "grouping_sets_status_priority",
    _q_grouping_sets,
    """
    SELECT COALESCE(o_orderstatus, '(all)') AS status,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)


def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape: a revenue VIEW (per-supplier quarterly revenue) plus
    a scalar-subquery MAX over the same view, keeping suppliers at the max.
    The scalar aggregate is a 1-row broadcast joined on equality — the
    decorrelation Spark plans for `WHERE total_revenue = (SELECT MAX ...)`.
    Revenue sums accumulate in DECIMAL(28,6) then cast to double, so the
    equality compares identical IEEE values in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            F.expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1996-04-01 00:00:00'")
        )
        .groupBy("l_suppkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                   "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
    )


_register(
    "q15_top_supplier",
    _q15_top_supplier,
    f"""
    WITH revenue AS (
      SELECT l_suppkey, {_sql_dsum('l_extendedprice * (1 - l_discount)')}
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)


def _q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape: the EXISTS / NOT-EXISTS double self-join on
    lineitem. A supplier "kept an order waiting" when its line on a
    finished order shipped late (> 100 days after the order date — the
    fixture's stand-in for receiptdate > commitdate), ANOTHER supplier has
    a line on the same order (EXISTS → left-semi on orderkey with
    suppkey-inequality), and NO other supplier's line on that order is late
    (NOT EXISTS → left-anti on the late set with suppkey-inequality). Both
    correlated subqueries decorrelate to keyed joins on l_orderkey — the
    hardest decorrelation pattern in the suite (nothing else in the catalog
    hits anti-join-with-inequality-residual)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_2"
    )
    lo = li.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = lo.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")
    ).select("l_orderkey", "l_suppkey")
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    l1 = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        l1.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_register(
    "q21_waiting_suppliers",
    _q21_waiting_suppliers,
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'),
    late AS (
      SELECT l_orderkey, l_suppkey FROM lo
      WHERE l_shipdate > o_orderdate + INTERVAL 100 DAY)
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_2'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1
    """,
)


def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape: national market share — the conditional-sum ratio
    SUM(CASE nation THEN volume)/SUM(volume) per order year, over the
    5-way join lineitem ⋈ orders ⋈ customer(region) ⋈ supplier ⋈ nation
    with a part filter. All dimension sides broadcast; both sums accumulate
    in DECIMAL(28,6) and divide once in double."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust_region = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("cn_nationkey"))
            ),
            F.col("c_nationkey") == F.col("cn_nationkey"),
        ).select("c_custkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    target_vol = F.when(F.col("n_name") == "NATION_7", vol).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _dsum(target_vol, "nation_volume"),
            _dsum(vol, "total_volume"),
        )
        .select(
            "o_year",
            "nation_volume",
            "total_volume",
            (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
        )
    )


_register(
    "q8_market_share",
    _q8_market_share,
    f"""
    WITH j AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS vol,
             n_name
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_custkey IN (
              SELECT c_custkey FROM customer
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              JOIN region ON cn.n_regionkey = r_regionkey
              WHERE r_name = 'ASIA')
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO'))
    SELECT o_year,
           {_sql_dsum("CASE WHEN n_name = 'NATION_7' THEN vol ELSE 0.0 END")}
             AS nation_volume,
           {_sql_dsum('vol')} AS total_volume,
           {_sql_dsum("CASE WHEN n_name = 'NATION_7' THEN vol ELSE 0.0 END")}
             / {_sql_dsum('vol')} AS mkt_share
    FROM j GROUP BY 1
    """,
)


def _q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape: per-part value held by one nation's suppliers,
    HAVING sum > fraction × (scalar subquery of the SAME aggregate over the
    same filtered set). No partsupp in the fixture, so the "stock value" is
    lineitem extendedprice×quantity for that nation's suppliers. The scalar
    total is a 1-row broadcast; the threshold comparison is double-exact
    (both sides decimal-accumulated)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    nat_supp = supp.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    filtered = li.join(
        F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    per_part = filtered.groupBy("l_partkey").agg(_dsum(value, "part_value"))
    total = filtered.agg(
        (_dsum(value, "__t"))
    ).select((F.col("__t") * 0.0001).alias("__thresh"))
    return (
        per_part.join(F.broadcast(total), F.col("part_value") > F.col("__thresh"))
        .select("l_partkey", "part_value")
    )


_register(
    "q11_important_stock",
    _q11_important_stock,
    f"""
    WITH f AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS value
      FROM lineitem
      WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'))
    SELECT l_partkey, {_sql_dsum('value')} AS part_value
    FROM f
    GROUP BY 1
    HAVING {_sql_dsum('value')} >
      (SELECT {_sql_dsum('value')} * 0.0001 FROM f)
    """,
)


def _q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape: line counts split by order priority (CASE-sum) per
    ship-mode class. No l_shipmode in the fixture, so the class is derived
    from ship lag (days from order to ship date): <= 35 days is 'FAST',
    otherwise 'SLOW' — same two-group CASE-aggregation the original runs
    over ('MAIL','SHIP'). Lag uses date-granularity datediff in both
    engines; negative-lag (synthetic) rows are excluded like the original's
    commitdate sandwich."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (lag >= 0)
            & F.expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
        )
        .withColumn(
            "ship_mode", F.when(lag <= 35, "FAST").otherwise("SLOW")
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_register(
    "q12_shipmode_priority",
    _q12_shipmode_priority,
    """
    WITH j AS (
      SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                 CAST(l_shipdate AS DATE)) <= 35
                  THEN 'FAST' ELSE 'SLOW' END AS ship_mode,
             o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE date_diff('day', CAST(o_orderdate AS DATE),
                      CAST(l_shipdate AS DATE)) >= 0
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01')
    SELECT ship_mode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM j GROUP BY 1
    """,
)


def _q20_potential_promotions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape: nested IN-subqueries with a correlated aggregate
    threshold — suppliers who shipped more than 25% of a widget-part's 1996
    volume (the fixture analog of availqty > 0.5 × shipped-qty on
    partsupp). Inner per-(part, supplier) and per-part sums share one scan;
    the threshold compare is double-exact on decimal-accumulated sums;
    the id filter decorrelates to a semi-join into supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    supp = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.filter(
            F.expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'")
            & F.expr("l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_ps = shipped.groupBy("l_partkey", "l_suppkey").agg(
        _dsum("l_quantity", "supp_qty")
    )
    per_p = per_ps.groupBy("l_partkey").agg(
        F.sum(F.col("supp_qty").cast(DEC)).cast("double").alias("part_qty")
    )
    big = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.col("supp_qty") > 0.25 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(big, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


_register(
    "q20_potential_promotions",
    _q20_potential_promotions,
    f"""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, l_quantity
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%widget%')),
    per_ps AS (
      SELECT l_partkey, l_suppkey, {_sql_dsum('l_quantity')} AS supp_qty
      FROM shipped GROUP BY 1, 2),
    per_p AS (
      SELECT l_partkey,
             CAST(SUM(CAST(supp_qty AS DECIMAL(28,6))) AS DOUBLE) AS part_qty
      FROM per_ps GROUP BY 1)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
      WHERE supp_qty > 0.25 * part_qty)
    """,
)


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (copy-on-write upsert + tombstone deletes) as
    updates-union-anti-join; the delta is broadcast so the base never
    shuffles. Update/new/delete sets are derived deterministically from
    the base table so the oracle restates them exactly."""

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd = (
        cust.filter((k % 7 == 0) | (k % 13 == 0))
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000)
        .withColumn("__del", k % 13 == 0)
    )
    new = (
        cust.filter(k % 97 == 0)
        .withColumn("c_custkey", k + 1000000)
        .withColumn("__del", F.lit(False))
    )
    merged = merge_upsert(
        cust, upd.unionByName(new), ["c_custkey"],
        delete_col="__del", broadcast_updates=True,
    )
    return merged.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


_register(
    "merge_upsert_customers",
    _q_merge_upsert,
    """
    WITH upd AS (
      SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment,
             c_custkey % 13 = 0 AS del
      FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 13 = 0),
    newr AS (
      SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
             c_mktsegment, FALSE AS del
      FROM customer WHERE c_custkey % 97 = 0),
    updates AS (SELECT * FROM upd UNION ALL SELECT * FROM newr)
    SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM updates u
                      WHERE u.c_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM updates WHERE NOT del
    """,
)


def _q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, floor(value)) — the
    multi-dimension data-skipping layout; the oracle restates the exact
    bit interleave."""

    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            "user_id",
            F.floor("value").cast("long").alias("vbucket"),
        )
        .withColumn("zval", zvalue(["user_id", "vbucket"], n_bits=9))
        .select("event_id", "user_id", "vbucket", "zval")
    )


def _zorder_sql() -> str:
    z = zvalue_sql(["user_id", "vbucket"], n_bits=9)
    return f"""
    WITH b AS (SELECT event_id, user_id,
                      CAST(floor(value) AS BIGINT) AS vbucket FROM events)
    SELECT event_id, user_id, vbucket, {z} AS zval FROM b
    """


_register("layout_zorder_values", _q_zorder, _zorder_sql())


def _q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom join-pruning: BUILDING-segment customer keys build an
    8192-bit filter; orders are pruned MAP-SIDE (zero shuffle, no join
    node) before any exact join would run. Deterministic md5 bit algebra —
    the oracle reproduces the exact survivor set including false
    positives."""

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    kept = bloom_filter_semi(orders, cust, "o_custkey", "c_custkey")
    return kept.select("o_orderkey", "o_custkey")


def _bloom_sql(m: int = 8192, k: int = 3) -> str:
    bpos = ", ".join(bloom_sql_positions("c_custkey", m, k))
    ppos = ", ".join(bloom_sql_positions("o_custkey", m, k))
    return f"""
    WITH bpos AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{bpos}]) AS pos
        FROM customer WHERE c_mktsegment = 'BUILDING')),
    ppos AS (
      SELECT o_orderkey, o_custkey, unnest([{ppos}]) AS pos FROM orders),
    ok AS (
      SELECT o_orderkey FROM ppos JOIN bpos USING (pos)
      GROUP BY o_orderkey HAVING COUNT(*) = {k})
    SELECT o_orderkey, o_custkey FROM orders JOIN ok USING (o_orderkey)
    """


_register("bloom_runtime_filter_orders", _q_bloom_filter, _bloom_sql())


def _q_udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow grouped-agg UDAF surface: pandas Series -> int64 weighted
    cents sum inside groupBy().agg(), mean derived JVM-side. Integer
    accumulation keeps the Python-side sum order-free."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    d = events.withColumn("w", (F.col("event_id") % 5 + 1).cast("long"))
    agg = d.groupBy("event_type").agg(
        weighted_cents_sum("value", "w").alias("wsum_cents"),
        int_sum("w").alias("total_w"),
    )
    return agg.select(
        "event_type", "wsum_cents", "total_w",
        (F.col("wsum_cents").cast("double") / F.lit(100.0)
         / F.col("total_w")).alias("weighted_mean"),
    )


_register(
    "udaf_weighted_mean_cents",
    _q_udaf_weighted_mean,
    f"""
    SELECT event_type,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)
                    * (event_id % 5 + 1)) AS BIGINT) AS wsum_cents,
           CAST(SUM(event_id % 5 + 1) AS BIGINT) AS total_w,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)
                    * (event_id % 5 + 1)) AS BIGINT)
             / 100.0 / CAST(SUM(event_id % 5 + 1) AS BIGINT) AS weighted_mean
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    GROUP BY 1
    """,
)


def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape round-trip: daily counts pivoted WIDE by event type, then
    unpivoted back to long (nulls dropped) — Spark's unpivot/melt API; the
    oracle is the long form computed directly."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    day_us = 86400 * US
    wide = (
        events.withColumn(
            "day_ms",
            F.expr(f"({T0 * US} + ((unix_micros(ts) - {T0 * US}) div {day_us})"
                   f" * {day_us}) div 1000"),
        )
        .groupBy("day_ms")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    return (
        wide.unpivot(
            ["day_ms"],
            ["click", "view", "purchase", "signup", "error"],
            "event_type",
            "n_events",
        )
        .filter(F.col("n_events").isNotNull())
        .select("day_ms", "event_type", F.col("n_events").cast("long").alias("n_events"))
    )


_register(
    "reshape_pivot_unpivot_roundtrip",
    _q_unpivot,
    f"""
    SELECT {_bucket_sql(T0, 86400)} AS day_ms, event_type,
           COUNT(*) AS n_events
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
      AND event_type IN ('click', 'view', 'purchase', 'signup', 'error')
    GROUP BY 1, 2
    """,
)


def _q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height decile binning per series (ntile with deterministic
    tiebreak) — the feature-binning prep op."""

    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_type", "event_id", "value",
        F.ntile(10).over(w).alias("decile"),
    )


_register(
    "feature_quantile_bins_decile",
    _q_quantile_bins,
    f"""
    SELECT event_type, event_id, value,
           CAST(NTILE(10) OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS INT) AS decile
    FROM events
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    """,
)


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each series at its exact interpolated p05/p95
    (the outlier-capping prep op); percentile bounds broadcast back."""
    events = load_table(spark, sf_dir, "events", time_range=(T0 * US, T_WEEK * US))
    bounds = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    return (
        events.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type", "event_id",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
            .alias("clipped"),
        )
    )


_register(
    "feature_winsorize_p05_p95",
    _q_winsorize,
    f"""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events
      WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
      GROUP BY 1)
    SELECT e.event_type, e.event_id,
           least(greatest(e.value, b.p05), b.p95) AS clipped
    FROM events e JOIN b USING (event_type)
    WHERE epoch_us(ts) >= {T0 * US} AND epoch_us(ts) < {T_WEEK * US}
    """,
)


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 20 == 0
    )
    return scd2_from_events(events)


_register(
    "scd2_user_event_history",
    _q_scd2,
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
        SELECT user_id, run_id, MIN(event_type) AS event_type,
               MIN(us) AS valid_from_us,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, run_id, event_type, valid_from_us,
           lead(valid_from_us) OVER (
               PARTITION BY user_id ORDER BY run_id
           ) AS valid_to_us,
           n_events
    FROM agg
    """,
)


_PROFILE_COLS = ["doc_id", "lang", "n_chars", "source"]


def _q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(docs, _PROFILE_COLS)


_register(
    "profile_documents_columns",
    _q_profile,
    "\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_repr,
               CAST(MAX({c}) AS VARCHAR) AS max_repr
        FROM documents
        """
        for c in _PROFILE_COLS
    ),
)


_KMV_K = 64


def _q_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return kmv_distinct(events, "user_id", k=_KMV_K)


_register(
    "sketch_kmv_distinct_users",
    _q_kmv,
    f"""
    WITH h AS (
        SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv#',
                   CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL
    ), mins AS (
        SELECT h FROM h ORDER BY h LIMIT {_KMV_K}
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tracked, MAX(h) AS kth_hash
        FROM mins
    )
    SELECT {_KMV_K} AS k, n_tracked, kth_hash,
           CASE WHEN n_tracked < {_KMV_K} THEN CAST(n_tracked AS DOUBLE)
                ELSE {float(_KMV_K - 1)!r}
                     / (CAST(kth_hash AS DOUBLE) / {float(2**60)!r})
           END AS estimate_distinct
    FROM agg
    """,
)


def _q_pctl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("_apx"),
        F.expr("percentile(value, 0.5)").alias("_ext"),
        F.expr("percentile(value, 0.75) - percentile(value, 0.25)").alias(
            "_iqr"
        ),
    )
    return g.select(
        "event_type",
        (F.abs(F.col("_apx") - F.col("_ext")) <= F.col("_iqr") * 0.01).alias(
            "median_within_tol"
        ),
    ).orderBy("event_type")


_register(
    "percentile_approx_accuracy_gate",
    _q_pctl_gate,
    """
    SELECT event_type, TRUE AS median_within_tol
    FROM events GROUP BY event_type
    """,
)


def _q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 25 == 0
    )
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.sent_idx, s.sentence
        FROM _udtf_docs d,
        LATERAL split_sentences(d.doc_id, d.text) s
        """
    )


_register(
    "udtf_sentence_split",
    _q_udtf_sentences,
    r"""
    WITH p AS (
        SELECT doc_id, string_split_regex(text, '\.\s+') AS parts
        FROM documents WHERE doc_id % 25 = 0
    ), u AS (
        SELECT doc_id,
               unnest(parts) AS sentence,
               generate_subscripts(parts, 1) AS sent_idx
        FROM p
    )
    SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx, sentence
    FROM u WHERE trim(sentence) <> ''
    """,
)


def _q_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format sink gate: write the corpus to CSV and JSON, read each
    back, and aggregate per (format, lang) — count, char total, and an
    md5-derived content checksum. Any quoting/escaping corruption in
    either codec path breaks the checksum against the parquet-sourced
    oracle."""


    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )

    def agg(df: DataFrame, fmt: str) -> DataFrame:
        ck = _hash60(F.concat(F.lit("ck#"), F.col("text"))) % 1_000_003
        return df.groupBy("lang").agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(ck).alias("text_checksum"),
        )

    with tempfile.TemporaryDirectory() as d:
        write_csv(docs, f"{d}/csv")
        write_json(docs, f"{d}/json")
        # reader options must MIRROR the writer's dialect (Spark default:
        # quote '"', escape '\\') — an asymmetric escape corrupts any text
        # containing a quote even though quote-free fixtures round-trip
        back_csv = (
            spark.read.schema(docs.schema)
            .option("header", True)
            .option("multiLine", True)
            .csv(f"{d}/csv")
        )
        back_json = spark.read.schema(docs.schema).json(f"{d}/json")
        out = agg(back_csv, "csv").unionByName(agg(back_json, "json"))
        res = local_df(spark, out.collect(), out.schema)
    return res.select(
        "lang", "fmt", "n_docs", "sum_chars", "text_checksum"
    ).orderBy("lang", "fmt")


_register(
    "sink_csv_json_roundtrip",
    _q_csv_json_roundtrip,
    """
    WITH a AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(CAST(concat('0x', substr(md5(concat('ck#', text)),
                        1, 15)) AS BIGINT) % 1000003) AS BIGINT)
                   AS text_checksum
        FROM documents GROUP BY 1
    )
    SELECT lang, fmt, n_docs, sum_chars, text_checksum
    FROM a CROSS JOIN (VALUES ('csv'), ('json')) AS f(fmt)
    """,
)


def _q_rank_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 45)
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").asc(), F.col("p_partkey").asc()
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.ntile(4).over(w).alias("price_quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.dense_rank().over(w).alias("drank"),
        )
        .orderBy("p_brand", "p_partkey")
    )


_register(
    "window_rank_functions_showcase",
    _q_rank_showcase,
    """
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(dense_rank() OVER w AS INTEGER) AS drank
    FROM part
    WHERE p_size >= 45
    WINDOW w AS (PARTITION BY p_brand
                 ORDER BY p_retailprice ASC, p_partkey ASC)
    """,
)


_WEEK_US = 7 * 86_400 * US


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wk = F.expr(f"(unix_micros(ts) - {T0 * US}) div {_WEEK_US}")
    activity = events.select("user_id", wk.alias("week")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_register(
    "cohort_weekly_retention",
    _q_cohort_retention,
    f"""
    WITH a AS (
        SELECT DISTINCT user_id,
               (epoch_us(ts) - {T0 * US}) // {_WEEK_US} AS week
        FROM events
    ), c AS (
        SELECT user_id, MIN(week) AS cohort_week FROM a GROUP BY 1
    )
    SELECT cohort_week, week - cohort_week AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM a JOIN c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)


_FUNNEL_BAND_US = 86_400 * US


def _q_funnel3(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros("ts").alias("vt"), "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.unix_micros("ts").alias("ct")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("pt")
    )
    # earliest click within the band after each view
    stage2 = (
        views.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("ct") > F.col("vt"))
            & (F.col("ct") <= F.col("vt") + _FUNNEL_BAND_US),
        )
        .groupBy("user_id", "vt", "event_id")
        .agg(F.min("ct").alias("first_ct"))
    )
    stage3 = stage2.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pt") > F.col("first_ct"))
        & (F.col("pt") <= F.col("first_ct") + _FUNNEL_BAND_US),
        "left_semi",
    )
    return (
        views.agg(F.count(F.lit(1)).alias("n_views"))
        .crossJoin(stage2.agg(F.count(F.lit(1)).alias("n_viewed_then_clicked")))
        .crossJoin(stage3.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


_register(
    "funnel_three_step_ordered",
    _q_funnel3,
    f"""
    WITH v AS (
        SELECT user_id, epoch_us(ts) AS vt, event_id FROM events
        WHERE event_type = 'view'
    ), c AS (
        SELECT user_id AS c_user, epoch_us(ts) AS ct FROM events
        WHERE event_type = 'click'
    ), p AS (
        SELECT user_id AS p_user, epoch_us(ts) AS pt FROM events
        WHERE event_type = 'purchase'
    ), s2 AS (
        SELECT v.user_id, v.vt, v.event_id, MIN(c.ct) AS first_ct
        FROM v JOIN c ON v.user_id = c.c_user
              AND c.ct > v.vt AND c.ct <= v.vt + {_FUNNEL_BAND_US}
        GROUP BY 1, 2, 3
    ), s3 AS (
        SELECT * FROM s2 WHERE EXISTS (
            SELECT 1 FROM p WHERE p.p_user = s2.user_id
              AND p.pt > s2.first_ct AND p.pt <= s2.first_ct + {_FUNNEL_BAND_US})
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_views,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_viewed_then_clicked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_full_funnel
    """,
)


_KMVS_K = 256


def _q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return kmv_set_ops(clicks, purchases, "user_id", k=_KMVS_K)


_register(
    "sketch_kmv_set_ops_users",
    _q_kmv_setops,
    f"""
    WITH ha AS (
        SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv#',
                   CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
    ), hb AS (
        SELECT DISTINCT CAST(concat('0x', substr(md5(concat('kmv#',
                   CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), u AS (
        SELECT DISTINCT h FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)
        ORDER BY h LIMIT {_KMVS_K}
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tracked, MAX(h) AS kth_hash
        FROM u
    ), sh AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shared FROM u
        WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)
    )
    SELECT {_KMVS_K} AS k, n_tracked, n_shared,
           CASE WHEN n_tracked < {_KMVS_K} THEN CAST(n_tracked AS DOUBLE)
                ELSE {float(_KMVS_K - 1)!r}
                     / (CAST(kth_hash AS DOUBLE) / {float(2**60)!r})
           END AS est_union,
           CASE WHEN n_tracked = 0 THEN 0.0
                ELSE CAST(n_shared AS DOUBLE) / CAST(n_tracked AS DOUBLE)
           END AS est_jaccard,
           (CASE WHEN n_tracked < {_KMVS_K} THEN CAST(n_tracked AS DOUBLE)
                 ELSE {float(_KMVS_K - 1)!r}
                      / (CAST(kth_hash AS DOUBLE) / {float(2**60)!r})
            END) * (CASE WHEN n_tracked = 0 THEN 0.0
                         ELSE CAST(n_shared AS DOUBLE)
                              / CAST(n_tracked AS DOUBLE) END)
               AS est_intersection
    FROM s CROSS JOIN sh
    """,
)


def _q_kmv_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return kmv_grouped_distinct(ev, ["event_type"], "user_id", k=64)


_register(
    "sketch_kmv_grouped_distinct",
    _q_kmv_grouped,
    f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5(concat('kmv#',
                   CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL
    ), r AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
    ), t AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_tracked,
               MAX(h) AS kth_hash
        FROM r WHERE rn <= 64 GROUP BY 1
    )
    SELECT event_type, 64 AS k, n_tracked, kth_hash,
           CASE WHEN n_tracked < 64 THEN CAST(n_tracked AS DOUBLE)
                ELSE {63.0!r} / (CAST(kth_hash AS DOUBLE) / {float(2**60)!r})
           END AS estimate_distinct
    FROM t
    """,
)


def _q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd = (
        cust.filter((k % 7 == 0) | (k % 13 == 0))
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000)
        .withColumn("__del", k % 13 == 0)
    )
    new = (
        cust.filter(k % 97 == 0)
        .withColumn("c_custkey", k + 1000000)
        .withColumn("__del", F.lit(False))
    )
    merged = merge_upsert(
        cust, upd.unionByName(new), ["c_custkey"],
        delete_col="__del", broadcast_updates=True,
    )
    return table_diff(
        cust, merged, ["c_custkey"], ["c_name", "c_acctbal", "c_mktsegment"]
    )


_register(
    "table_diff_after_merge",
    _q_table_diff,
    """
    WITH merged AS (
        SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 97 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer
        WHERE c_custkey % 7 <> 0 AND c_custkey % 13 <> 0
    )
    SELECT diff_class, CAST(COUNT(*) AS BIGINT) AS n_keys FROM (
        SELECT CASE WHEN b.c_custkey IS NULL THEN 'added'
                    WHEN m.c_custkey IS NULL THEN 'removed'
                    WHEN b.c_acctbal <> m.c_acctbal OR b.c_name <> m.c_name
                         OR b.c_mktsegment <> m.c_mktsegment THEN 'changed'
                    ELSE 'unchanged' END AS diff_class
        FROM customer b FULL OUTER JOIN merged m
          ON b.c_custkey = m.c_custkey
    ) GROUP BY 1
    """,
)


def _q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    month = F.date_trunc("month", F.col("o_orderdate"))
    m = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.unix_micros(month).alias("month_us"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("_rev")
        )
    )
    w = W.partitionBy("segment").orderBy("month_us")
    return (
        m.select(
            "segment",
            "month_us",
            F.col("_rev").cast("double").alias("revenue"),
            (
                F.col("_rev").cast("double")
                / F.lag(F.col("_rev").cast("double")).over(w)
            ).alias("mom_ratio"),
        )
        .orderBy("segment", "month_us")
    )


_register(
    "bi_mom_growth_per_segment",
    _q_mom_growth,
    """
    WITH m AS (
        SELECT c_mktsegment AS segment,
               epoch_us(date_trunc('month', o_orderdate)) AS month_us,
               SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    )
    SELECT segment, month_us,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / lag(CAST(rev AS DOUBLE)) OVER (
               PARTITION BY segment ORDER BY month_us) AS mom_ratio
    FROM m
    """,
)


def _q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("_rev")
    )
    w = W.orderBy(F.col("_rev").desc(), F.col("o_custkey").asc())
    total = per_cust.agg(F.sum("_rev").alias("_tot"))
    ranked = per_cust.withColumn(
        "cum", F.sum("_rev").over(w.rowsBetween(W.unboundedPreceding, 0))
    ).crossJoin(F.broadcast(total))
    # exact compare: cum/tot >= 0.8  <=>  5*cum >= 4*tot in decimals
    flagged = ranked.withColumn(
        "covered", F.col("cum") * 5 >= F.col("_tot") * 4
    )
    # customers strictly before the coverage point + the first covering
    # one. NOTE: the cumulative share is a global sorted prefix sum — a
    # single range-partitioned sort over per-customer TOTALS (cardinality
    # = customers, not orders), which is the irreducible cost of any
    # exact Pareto statement.
    n_before = flagged.filter(~F.col("covered")).count()
    n_custs = per_cust.count()
    return (
        total.select(
            F.lit(n_before + 1).alias("n_customers_for_80pct"),
            F.lit(n_custs).alias("n_customers_total"),
            (
                F.lit(float(n_before + 1)) / F.lit(float(n_custs))
            ).alias("pareto_share"),
            F.col("_tot").cast("double").alias("total_revenue"),
        )
    )


_register(
    "bi_pareto_customers_80pct",
    _q_pareto,
    """
    WITH pc AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
        FROM orders GROUP BY 1
    ), t AS (
        SELECT SUM(rev) AS tot FROM pc
    ), r AS (
        SELECT o_custkey, rev,
               SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM pc
    )
    SELECT CAST((SELECT COUNT(*) FROM r, t WHERE cum * 5 < tot * 4) + 1
               AS BIGINT) AS n_customers_for_80pct,
           CAST((SELECT COUNT(*) FROM pc) AS BIGINT) AS n_customers_total,
           CAST(CAST((SELECT COUNT(*) FROM r, t WHERE cum * 5 < tot * 4) + 1
                    AS DOUBLE)
                / CAST((SELECT COUNT(*) FROM pc) AS DOUBLE) AS DOUBLE)
               AS pareto_share,
           CAST((SELECT tot FROM t) AS DOUBLE) AS total_revenue
    """,
)


def _q_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # nullable derived key: props.k bucketed, with one bucket mapped to
    # NULL so the null-safe semantics are exercised alongside real groups
    k = F.get_json_object("props", "$.k").cast("long")
    keyed = events.select(
        "event_id",
        F.when((k % 10) == 0, F.lit(None).cast("long"))
        .otherwise(k % 10)
        .alias("device"),
    )
    counts = keyed.groupBy("device").agg(F.count(F.lit(1)).alias("n_events"))
    firsts = keyed.groupBy("device").agg(F.min("event_id").alias("first_event"))
    return (
        counts.join(firsts, counts["device"].eqNullSafe(firsts["device"]))
        .select(counts["device"], "n_events", "first_event")
        .orderBy(F.col("device").asc_nulls_first())
    )


_register(
    "nullsafe_join_device_counts",
    _q_nullsafe,
    """
    WITH k AS (
        SELECT event_id,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                         % 10 = 0 THEN NULL
                    ELSE CAST(json_extract_string(props, '$.k') AS BIGINT)
                         % 10 END AS device
        FROM events
    ), c AS (
        SELECT device, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM k GROUP BY device
    ), f AS (
        SELECT device, MIN(event_id) AS first_event FROM k GROUP BY device
    )
    SELECT c.device, n_events, first_event
    FROM c JOIN f ON c.device IS NOT DISTINCT FROM f.device
    """,
)


def _q_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    inter = clicks.intersectAll(views).groupBy().agg(
        F.count(F.lit(1)).alias("n_intersect_all")
    )
    exc = clicks.exceptAll(views).groupBy().agg(
        F.count(F.lit(1)).alias("n_except_all")
    )
    return inter.crossJoin(exc)


_register(
    "setops_multiset_all_users",
    _q_multiset_ops,
    """
    WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
         v AS (SELECT user_id FROM events WHERE event_type = 'view'),
         i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_intersect_all FROM
                   (SELECT user_id FROM c INTERSECT ALL SELECT user_id FROM v)),
         e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_except_all FROM
                   (SELECT user_id FROM c EXCEPT ALL SELECT user_id FROM v))
    SELECT n_intersect_all, n_except_all FROM i CROSS JOIN e
    """,
)


#: one portable string, executed verbatim by BOTH engines.
_SQL_NATION_REVENUE = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY n_name
    ORDER BY n_name
"""


def _q_sql_entry_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).sql(_SQL_NATION_REVENUE)


_register("sql_entry_nation_revenue", _q_sql_entry_nation_revenue,
          _SQL_NATION_REVENUE)


def _q_sql_entry_rollup_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = Engine(spark, sf_dir)
    eng.register_bucketed_view(
        "events_hourly", T0, T_WEEK, 3600,
        verbs={"max": "max_value", "count": "count_value"},
    )
    # consume the operator view from plain SQL: daily peaks of the hourly
    # rollup — the warehouse-style two-tier pattern.
    return eng.sql("""
        SELECT bucket_start_us div 86400000000 AS day_idx,
               MAX(max_value) AS day_max,
               CAST(SUM(count_value) AS BIGINT) AS day_events
        FROM events_hourly
        GROUP BY day_idx
        ORDER BY day_idx
    """)


_register(
    "sql_entry_rollup_view",
    _q_sql_entry_rollup_view,
    f"""
    WITH hourly AS (
        SELECT ({T0 * 1_000_000} + ((epoch_us(ts) - {T0 * 1_000_000})
                // 3600000000) * 3600000000) AS bucket_start_us,
               MAX(value) AS max_value,
               COUNT(value) AS count_value
        FROM events
        WHERE epoch_us(ts) >= {T0 * 1_000_000}
          AND epoch_us(ts) < {(T0 + 7 * 86400) * 1_000_000}
        GROUP BY 1
    )
    SELECT bucket_start_us // 86400000000 AS day_idx,
           MAX(max_value) AS day_max,
           CAST(SUM(count_value) AS BIGINT) AS day_events
    FROM hourly GROUP BY day_idx ORDER BY day_idx
    """,
)


def _q_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantined semi-structured ingest: a deterministic slice of the
    events feed (event_id % 23) arrives with its JSON payload truncated;
    the loader flags (never drops) those rows and the good lane's typed
    extraction aggregates cleanly."""

    ev = load_table(spark, sf_dir, "events").withColumn(
        "props",
        F.when(
            F.col("event_id") % 23 == 0, F.substring("props", 1, 6)
        ).otherwise(F.col("props")),
    )
    q = parse_json_quarantine(ev, "props", "k LONG")
    good_k = F.when(~F.col("quarantined"), F.col("parsed.k"))
    return (
        q.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("quarantined").cast("long")).alias("n_quarantined"),
            F.count(good_k).alias("n_with_k"),
            F.sum(good_k).alias("sum_k"),
        )
        .orderBy("event_type")
    )


_register(
    "ingest_json_quarantine",
    _q_json_quarantine,
    """
    WITH raw AS (
      SELECT event_type,
             CASE WHEN event_id % 23 = 0 THEN substr(props, 1, 6)
                  ELSE props END AS props
      FROM events),
    f AS (
      SELECT event_type, props,
             (props IS NOT NULL AND NOT json_valid(props)) AS q
      FROM raw)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quarantined,
           COUNT(CASE WHEN NOT q
                      THEN CAST(json_extract(props, '$.k') AS BIGINT) END)
               AS n_with_k,
           CAST(SUM(CASE WHEN NOT q
                         THEN CAST(json_extract(props, '$.k') AS BIGINT) END)
                AS BIGINT) AS sum_k
    FROM f GROUP BY event_type ORDER BY event_type
    """,
)


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier → customer fulfillment graph (distinct
    edges from lineitem ⋈ orders; customer nodes offset by 1e6 so the two
    integer key spaces cannot collide) — the relational power method the
    URL-graph quality priors of web-corpus curation use, run for 3 fixed
    steps."""

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1_000_000) + F.col("o_custkey")).alias("dst"),
    )
    return pagerank(edges, n_iter=3, damping=0.85).orderBy("node")


def _pagerank_sql(n_iter: int = 3, damping: float = 0.85) -> str:
    # embed the EXACT IEEE constants the Spark side computes in Python so
    # both engines run the identical arithmetic (1 - 0.85 is NOT 0.15 in
    # binary floating point)
    d = repr(damping)
    base = repr(1.0 - damping)
    ctes = [
        """e AS (SELECT DISTINCT l_suppkey AS src, 1000000 + o_custkey AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
           FROM nodes)"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(f"""r{i} AS (
      SELECT nodes.node,
             {base} / (SELECT n FROM nn)
             + {d} * COALESCE(c.s, CAST(0.0 AS DOUBLE)) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(r.rank / od.od AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM e JOIN r{i - 1} r ON r.node = e.src
               JOIN od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nodes.node)""")
    return (
        "\n    WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, rank FROM r{n_iter} ORDER BY node\n    "
    )


_register("graph_pagerank_suppliers", _q_pagerank, _pagerank_sql())


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-sink gate for ORC (same checksum discipline as the
    CSV/JSON round-trip): write the corpus to ORC, read it back, and
    aggregate per language with an md5-derived content checksum — any
    codec corruption breaks the hash against the parquet-sourced
    oracle."""


    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    ck = _hash60(F.concat(F.lit("ck#"), F.col("text"))) % 1_000_003
    with tempfile.TemporaryDirectory() as d:
        write_orc(docs, f"{d}/orc")
        back = spark.read.schema(docs.schema).orc(f"{d}/orc")
        out = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(ck).alias("text_checksum"),
        )
        res = local_df(spark, out.collect(), out.schema)
    return res.orderBy("lang")


_register(
    "sink_orc_roundtrip",
    _q_orc_roundtrip,
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(concat('0x', substr(md5(concat('ck#', text)), 1, 15))
                    AS BIGINT) % 1000003) AS BIGINT) AS text_checksum
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)


def _q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hottest (event_type, user_id % 100) composite keys in the
    events table — the pre-shuffle diagnostic for salting decisions."""

    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_mod", F.col("user_id") % 100
    )
    return skew_report(ev, ["event_type", "user_mod"], k=10)


_register(
    "profile_skew_report",
    _q_skew_report,
    r"""
    WITH counts AS (
      SELECT concat_ws('|',
               CASE WHEN event_type IS NULL THEN '\N'
                    ELSE replace(replace(event_type, '\', '\\'), '|', '\|')
               END,
               CASE WHEN user_id IS NULL THEN '\N'
                    ELSE replace(replace(CAST(user_id % 100 AS VARCHAR),
                                         '\', '\\'), '|', '\|')
               END) AS key,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_rows) AS DOUBLE) AS total,
                   CAST(COUNT(*) AS DOUBLE) AS nkeys FROM counts),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_rows DESC, key ASC) AS rank
      FROM counts)
    SELECT CAST(rank AS INTEGER) AS rank, key, n_rows,
           CAST(n_rows AS DOUBLE) / total AS share,
           CAST(n_rows AS DOUBLE) / (total / nkeys) AS ratio_to_avg
    FROM ranked, tot
    WHERE rank <= 10
    ORDER BY rank
    """,
)
