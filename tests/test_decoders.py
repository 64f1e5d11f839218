"""The ``long_be`` decoder (``Bytes.toLong``) against Python's
``int.from_bytes``: signed for 8 bytes, unsigned for a shorter input."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hbase_taggregator_spark.functions.decoders import decode_value


def _to_long(b: bytes | None) -> int | None:
    if not b:
        return None
    return int.from_bytes(b, "big", signed=len(b) == 8)


@pytest.mark.parametrize(
    "raw, want",
    [
        (b"\xff" * 8, -1),
        (b"\x80" + b"\x00" * 7, -(2**63)),
        (b"\x7f" + b"\xff" * 7, 2**63 - 1),
        (b"\x00\xff", 255),
        (b"", None),
        (None, None),
    ],
    ids=["minus_one", "long_min", "long_max", "short_unsigned", "empty", "null"],
)
def test_long_be_edges(spark, raw, want):
    df = spark.createDataFrame([(raw,)], "raw binary")
    assert df.select(decode_value(F.col("raw"), "long_be")).first()[0] == want
    assert _to_long(raw) == want


def test_long_be_random_bytes(spark):
    rng = random.Random(20141110)
    raws = [rng.randbytes(rng.choice([0, 1, 2, 3, 4, 5, 6, 7, 8, 8, 8]))
            for _ in range(400)]
    df = spark.createDataFrame(list(enumerate(raws)), "i int, raw binary")
    got = dict(df.select("i", decode_value(F.col("raw"), "long_be")).collect())
    assert [got[i] for i in range(len(raws))] == [_to_long(b) for b in raws]
