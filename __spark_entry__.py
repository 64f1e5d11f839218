"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
(spark, sf_dir) → DataFrame; ``oracle_sql()`` gives the DuckDB-equivalent
SQL per query. The implementations live in the catalog package,
:mod:`hbase_taggregator_spark.catalog`, one module per domain.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_taggregator_spark.catalog import ORACLES, QUERIES  # noqa: E402
from hbase_taggregator_spark.session import configure  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: multi-verb single-pass bucketed aggregation over the
    events table — the reference's headline capability ('96 queries → one
    scan', README.md:5 of /root/reference), generalized."""
    configure(spark)
    return QUERIES["ts_multi_verb_28800"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator (SURVEY.md §2)."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)  # nanos-parquet + Arrow confs, runtime-settable
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query key (omissions = rows-only check)."""
    return dict(ORACLES)
