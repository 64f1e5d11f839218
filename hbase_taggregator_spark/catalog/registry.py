"""The catalog's registry: every query registers here, with its DuckDB oracle.

Leaf module — it imports nothing from the catalog, so every domain module
imports it and no domain module imports another.

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
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.util import local_df

US = 1_000_000

# events table epoch bounds (2024-01-01 .. 2024-01-31 UTC)
T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC, seconds
T_WEEK = T0 + 7 * 86400
T_MONTH = T0 + 30 * 86400

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


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: live SERVING-PLAN factories of the gates registered by
#: :func:`_register_served`. Such a gate's registered callable
#: materializes its result before its run-scoped directory vanishes, which
#: makes its plan a LocalTableScan, so a catalog-wide plan audit over
#: QUERIES is vacuous for EXACTLY the queries that serve persisted
#: layouts. Each entry takes (spark, sf_dir, workdir), builds its
#: artifacts under the caller-owned ``workdir``, and returns the LIVE
#: pre-materialization frame — the plan a production deployment would run
#: against the standing layout — so tools/plan_audit.py can record real
#: exchange / broadcast / pushdown values for it. Row-pinning between each
#: factory and its registered query is asserted in tests/test_round15.py.
PLAN_FRAMES: dict[
    str, Callable[[SparkSession, str, str], DataFrame]
] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str) -> None:
    QUERIES[name] = fn
    ORACLES[name] = sql


def _register_served(
    name: str, frame: Callable[[SparkSession, str, str], DataFrame], sql: str
) -> None:
    """Register a gate served from a run-scoped layout (a persisted index,
    a partitioned sink). ``frame(spark, sf_dir, workdir)`` builds the layout
    under ``workdir`` and returns the live serving frame, which goes to
    :data:`PLAN_FRAMES`; the registered query runs it in a temporary
    directory and materializes its rows before the directory vanishes."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        with tempfile.TemporaryDirectory() as d:
            df = frame(spark, sf_dir, d)
            return local_df(spark, df.collect(), df.schema)

    _register(name, run, sql)
    PLAN_FRAMES[name] = frame
