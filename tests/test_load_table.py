"""``load_table``'s schema memo: a repeat load reuses the inferred schema
only while the table's files and the inference confs are unchanged.

- a memoized load has exactly the schema Spark infers, for every table;
- rewriting a table with another schema (a column added, one retyped)
  between two loads gives the second load the new schema and rows;
- threads loading one table at once all get its schema and rows.
"""

from __future__ import annotations

import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMOKE as SF
from hbase_taggregator_spark.sources.parquet import TABLES, load_table


@pytest.mark.parametrize("name", TABLES)
def test_memoized_schema_is_the_inferred_one(spark, name):
    load_table(spark, SF, name)
    warm = load_table(spark, SF, name)
    assert warm.schema == spark.read.parquet(f"{SF}/{name}.parquet").schema


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """Same directory, same file name: size and mtime change the key."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32()),
                             "b": ["x", "y"]}), part)
    first = load_table(spark, str(tmp_path), "t")
    assert first.schema.simpleString() == "struct<a:int,b:string>"
    assert _rows(first) == [(1, "x"), (2, "y")]

    pq.write_table(pa.table({"a": pa.array([3, 4, 5], pa.int64()),
                             "b": ["p", "q", "r"],
                             "c": [0.5, 1.5, 2.5]}), part)
    second = load_table(spark, str(tmp_path), "t")
    assert second.schema.simpleString() == "struct<a:bigint,b:string,c:double>"
    assert _rows(second) == [(3, "p", 0.5), (4, "q", 1.5), (5, "r", 2.5)]


def test_concurrent_loads_agree(spark, tmp_path):
    """More threads than cores race on a miss, then on hits; each sees the
    table's own schema and rows."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": list(range(50)),
                             "v": [float(i) for i in range(50)]}),
                   table / "part-0.parquet")
    want_schema = spark.read.parquet(str(table)).schema
    want_rows = [(i, float(i)) for i in range(50)]
    n = 8
    start = threading.Barrier(n)
    got: list = [None] * n

    def load(i):
        start.wait(timeout=60)
        got[i] = [
            (df.schema, _rows(df))
            for df in (load_table(spark, str(tmp_path), "t") for _ in range(3))
        ]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=load, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for loads in got:
        assert loads is not None and len(loads) == 3
        for schema, rows in loads:
            assert schema == want_schema
            assert rows == want_rows
