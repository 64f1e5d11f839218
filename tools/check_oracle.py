"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Exits 2 without checking anything if a named query is not in the catalog.
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from hbase_taggregator_spark.session import get_spark  # noqa: E402
from hbase_taggregator_spark.sources.parquet import TABLES  # noqa: E402


def normalize(v):
    """Type-tagged, full-precision value serialization.

    Mirrors the driver's exact hasher: floats compare by full ``repr`` (bit
    precision, not 9 significant digits) and the Python type participates in
    the key — so a DuckDB HUGEINT surfacing as ``decimal.Decimal`` mismatches
    an int64 even when the values are numerically equal, exactly like the
    driver's type-tagged serialization (round-1 lesson: the looser 9-digit
    compare declared two queries green that the driver hash-failed)."""
    if isinstance(v, bool):
        return ("bool", str(int(v)))
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else repr(v))
    return (type(v).__name__, str(v))


def row_key(row: dict) -> tuple:
    return tuple(normalize(row[k]) for k in sorted(row))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entry_mod.queries()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown queries (not in the catalog): {unknown}")
        return 2

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only)")
            continue
        try:
            odf = con.execute(oracles[name]).fetch_arrow_table()
            ocols = odf.column_names
            orows = [dict(zip(ocols, row)) for row in zip(*[c.to_pylist() for c in odf.columns])] if odf.num_rows else []
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {str(e)[:300]}")
            continue
        dt = time.time() - t0
        scols, ocols_s = sorted(sdf.columns), sorted(ocols)
        if scols != ocols_s:
            failures.append(name)
            print(f"FAIL  {name}: columns {scols} != {ocols_s}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(orows)}")
            continue
        sset = sorted(row_key(r) for r in srows)
        oset = sorted(row_key(r) for r in orows)
        if sset != oset:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            continue
        print(f"ok    {name}: {len(srows)} rows  ({dt:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
