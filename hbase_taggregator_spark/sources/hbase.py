"""HBase table source — the reference's native storage, behind the same
DataFrame abstraction.

The reference scans HBase regions via a coprocessor
(`TimeseriesAggregateImplementation.java:156` in /root/reference); the
Spark-native equivalent is the HBase-Spark connector
(`org.apache.hadoop.hbase.spark`, Apache hbase-connectors), which performs
server-side filter pushdown and per-region partitioning — one Spark
partition per region, the same parallelism the reference gets from one RPC
per region.

The connector jar is not present in this environment, so :func:`load_hbase`
raises with setup instructions (import-gated per project constraints). The
mapping contract is real and tested WITHOUT the jar:
:func:`hbase_catalog` produces the connector's JSON catalog from the
engine's schema model, and :func:`load_hbase_fixture` consumes that same
catalog over cell-level input (one row per (rowkey, cf, qualifier,
version) cell — what a region scan streams) to produce the connector's
exact row shape: binary rowkey + one typed column per catalog entry,
latest version winning. Tests drive that row shape through
``TimeseriesAggregator.table_from_rowkey`` end-to-end, so swapping the
fixture for the real connector changes only the loader call.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from hbase_taggregator_spark.sources.rowkey import bytes_to_int

HBASE_FORMAT = "org.apache.hadoop.hbase.spark"

#: schema of the cell-level fixture input to :func:`load_hbase_fixture` —
#: one row per HBase cell, exactly what a region scan streams
CELL_SCHEMA = (
    "rowkey binary, cf string, qualifier string, value binary, cell_ts long"
)


def hbase_catalog(
    table: str,
    columns: dict[str, tuple[str, str, str]],
    namespace: str = "default",
) -> str:
    """Connector catalog JSON: ``columns`` maps DataFrame column →
    (column family, qualifier, type); the rowkey maps from family ``rowkey``.

    Example::

        hbase_catalog("metrics", {
            "rowkey":  ("rowkey", "key",  "binary"),
            "value":   ("d",      "v",    "bigint"),
        })
    """
    return json.dumps(
        {
            "table": {"namespace": namespace, "name": table},
            "rowkey": "key",
            "columns": {
                name: {"cf": cf, "col": col, "type": typ}
                for name, (cf, col, typ) in columns.items()
            },
        }
    )


def _cell_decode(value: Column, typ: str) -> Column:
    """Decode a binary cell value per the catalog type — the engine-side
    restatement of the connector's ``Bytes.toXxx`` conversions (HBase
    ``Bytes`` class semantics: big-endian fixed-width numerics, UTF-8
    strings). Routed through the engine's pluggable decoder registry so
    the connector path and the decoder gate queries share one codepath."""
    from hbase_taggregator_spark.functions.decoders import decode_value

    if typ == "binary":
        return value
    if typ == "bigint":
        return decode_value(value, "long_be")
    if typ == "double":
        return decode_value(value, "double_bits_be")
    if typ == "string":
        return decode_value(value, "utf8")
    if typ == "int":
        return bytes_to_int(value).cast("int")
    raise ValueError(
        f"unsupported catalog type {typ!r}; have binary/bigint/double/string/int"
    )


def load_hbase_fixture(spark: SparkSession, catalog: str, cells: DataFrame) -> DataFrame:
    """In-memory stand-in for :func:`load_hbase`: consume the SAME catalog
    JSON and a cell-level DataFrame (:data:`CELL_SCHEMA` — one row per
    (rowkey, cf, qualifier, version) cell, which is what a region scan
    streams) and produce the connector's row shape: one row per rowkey,
    one column per catalog entry, values decoded per the declared type,
    the LATEST ``cell_ts`` version winning per cell coordinate (HBase
    newest-version-first read semantics).

    This pins the catalog→DataFrame row-shape contract end-to-end without
    the connector jar: everything downstream
    (``TimeseriesAggregator.table_from_rowkey``, mask decode, bucketed
    aggregation) consumes this DataFrame exactly as it would the real
    connector's. The pivot is one hash aggregation on the rowkey —
    same shape the connector produces per region scan, expressed
    relationally; all decode expressions are JVM-side (no Python).
    """
    spec = json.loads(catalog)
    aggs = []
    for name, c in spec["columns"].items():
        if c["cf"] == "rowkey":
            continue  # the rowkey column comes from the key itself
        cond = (F.col("cf") == c["cf"]) & (F.col("qualifier") == c["col"])
        # max of struct(ts, value) = latest version, ties by value bytes;
        # aggregate max skips the NULL structs from non-matching cells
        latest = F.max(
            F.when(cond, F.struct(F.col("cell_ts"), F.col("value")))
        )["value"]
        aggs.append(_cell_decode(latest, c["type"]).alias(name))
    rowkey_name = next(
        (n for n, c in spec["columns"].items() if c["cf"] == "rowkey"),
        "rowkey",
    )
    return cells.groupBy(F.col("rowkey").alias(rowkey_name)).agg(*aggs)


def load_hbase(spark: SparkSession, catalog: str) -> DataFrame:
    """Read an HBase table through the connector (region-parallel scan with
    filter pushdown). Raises in environments without the connector jar."""
    try:
        reader = spark.read.format(HBASE_FORMAT).options(catalog=catalog)
        return reader.load()
    except Exception as e:  # pragma: no cover - no connector jar here
        raise NotImplementedError(
            "the HBase-Spark connector (org.apache.hadoop.hbase.spark, from "
            "Apache hbase-connectors) is not on the classpath; add the jar "
            "via spark.jars.packages and re-run. The parquet path exercises "
            "the identical engine surface."
        ) from e
