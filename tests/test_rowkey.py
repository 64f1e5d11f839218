"""Rowkey-mode parity: binary rowkey encode → decode round-trip and the
key-embedded-timestamp aggregation path (AggregationBuilder.java:84-120)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from conftest import BASE_S, golden_cells_py
from reference_sim import aggregate as ref_aggregate
from hbase_taggregator_spark import TimeseriesAggregator
from hbase_taggregator_spark.sources.rowkey import (
    encode_rowkey,
    rowkey_seconds,
    rowkey_timestamp,
)

#: the reference fixture's mask: 7 prefix bytes ("testRow") + 4 ts bytes
MASK = "00000001111"
PREFIX = b"testRow"
H = 3600


@pytest.fixture(scope="module")
def hbase_shaped(spark, golden_cells):
    """Golden fixture in the reference's physical layout: binary rowkey with
    embedded epoch seconds + qualifier second-offset column."""
    return golden_cells.select(
        encode_rowkey(PREFIX, F.col("row_ts_s").cast("long")).alias("rowkey"),
        "qualifier_offset_s",
        "value",
    )


def test_roundtrip(spark, hbase_shaped):
    got = hbase_shaped.select(
        rowkey_seconds("rowkey", MASK).alias("s"), "qualifier_offset_s"
    ).distinct()
    mn, mx = got.agg(F.min("s"), F.max("s")).first()
    assert mn == BASE_S and mx == BASE_S + 99 * H


def test_mask_mismatch_gives_zero(spark):
    """Key length ≠ mask length → timestamp 0 (AggregationBuilder.java:104-108)."""
    df = spark.createDataFrame([(b"short",)], "rowkey binary")
    assert df.select(rowkey_seconds("rowkey", MASK).alias("s")).first()["s"] == 0


def test_negative_seconds_signed_decode(spark):
    """Bytes.toInt is signed — int32 round-trip must preserve sign."""
    df = spark.createDataFrame([(-5,), (2**31 - 1,)], "s long")
    out = df.select(
        rowkey_seconds(encode_rowkey(b"pfx4567", F.col("s")), "00000001111").alias("d"),
        "s",
    ).collect()
    assert all(r["d"] == r["s"] for r in out)


def test_short_mask_span_decodes_high_order(spark):
    """A '1'-span shorter than 4 bytes lands in the HIGH-order positions of
    the int32 (Bytes.toInt on a 4-byte buffer filled from the top —
    AggregationBuilder.java:109-115), including the sign bit."""
    df = spark.createDataFrame(
        [(b"\x01\x02",), (b"\x80\x00",)], "rowkey binary"
    )
    got = sorted(
        r["s"] for r in df.select(rowkey_seconds("rowkey", "11").alias("s")).collect()
    )
    assert got == [-(2**31), 0x01020000]


def test_long_mask_span_raises(spark):
    """Spans > 4 bytes would throw in the reference (Bytes.toInt) — the
    engine rejects the layout at build time."""
    with pytest.raises(ValueError, match="span"):
        rowkey_seconds(F.col("rowkey"), "111110000")


def test_rowkey_mode_aggregation_matches_reference(spark, hbase_shaped):
    """Full key-mode pipeline: decode mask + qualifier offset → bucketed max,
    vs the reference simulator (testMaxWithValidRange shape)."""
    t_min, t_max = BASE_S, BASE_S + 2 * H
    q = (
        TimeseriesAggregator(spark)
        .table_from_rowkey(
            hbase_shaped, MASK, qualifier_col="qualifier_offset_s"
        )
        .range(t_min, t_max)
        .interval(900)
        .mode("taggregator")
    )
    got = q.to_map(q.max())
    exp = ref_aggregate(golden_cells_py(), "max", t_min, t_max, 900, "key")
    assert got == exp


def _bytes_to_int(key: bytes | None, mask: str) -> int:
    """``getTimestampFromRowKeyAsSeconds`` restated: the mask's first-'1' to
    last-'1' bytes fill the high-order end of a 4-byte buffer read by
    ``Bytes.toInt``; a NULL key or one whose length differs from the mask's
    is 0 (``AggregationBuilder.java:104-115``)."""
    if key is None or len(key) != len(mask):
        return 0
    span = key[mask.index("1"):mask.rindex("1") + 1]
    return int.from_bytes(span.ljust(4, b"\x00"), "big", signed=True)


@pytest.mark.parametrize(
    "mask", ["000000001111", "1111", "0001110", "0110", "00010"]
)
def test_decode_matches_bytes_to_int(spark, mask):
    """``rowkey_seconds``, ``rowkey_timestamp`` and ``table_from_rowkey`` against
    the Python restatement over seeded random rowkeys: sign-bit spans, keys
    of the wrong length, NULL keys and negative qualifiers; the generator
    keeps one row per input row, a NULL qualifier giving a NULL time."""
    rng = random.Random(f"rowkey-{mask}")
    n = len(mask)
    keys = [b"\x80" * n, b"\xff" * n, b"\x7f" * n, None, b"", b"\x01" * (n + 1)]
    for _ in range(300):
        size = n if rng.random() < 0.8 else rng.randrange(0, n + 3)
        keys.append(rng.randbytes(size))
    quals = [rng.randrange(-(2**31), 2**31) for _ in keys]
    quals[-1] = None
    rows = list(zip(range(len(keys)), keys, quals))
    df = spark.createDataFrame(rows, "i int, rowkey binary, qualifier int")
    got = {
        r["i"]: (r["s"], r["t"])
        for r in df.select(
            "i",
            rowkey_seconds("rowkey", mask).alias("s"),
            F.unix_seconds(rowkey_timestamp("rowkey", mask, "qualifier")).alias("t"),
        ).collect()
    }
    want = {
        i: (_bytes_to_int(k, mask), None if q is None else _bytes_to_int(k, mask) + q)
        for i, k, q in rows
    }
    assert got == want
    generated = TimeseriesAggregator(spark).table_from_rowkey(
        df, mask, qualifier_col="qualifier"
    ).df.select("i", F.unix_seconds("__event_ts").alias("t")).collect()
    assert sorted((r["i"], r["t"]) for r in generated) == sorted(
        (i, t) for i, (_, t) in want.items()
    )
