"""HBase-shaped binary rowkey encoding/decoding as Catalyst expressions.

The reference assumes a fixed-length rowkey embedding a 4-byte big-endian
int32 epoch-seconds timestamp at a position described by a ``'0'``/``'1'``
mask, and treats the column qualifier as an int32 *seconds offset* added to
that timestamp (``AggregationBuilder.java:84-120`` in /root/reference:
``getTimestampFromRowKeyAsSeconds`` copies the bytes between the first and
last ``'1'`` of the mask; mask/key length mismatch → timestamp 0 plus an
error log).

Here both directions are pure column expressions (hex/conv/substring), so
they run JVM-side inside whole-stage codegen — no Python in the scan path.
The decode evaluates the span's ``conv`` once per row: the high-order
placement and the int32 sign wrap are one shift pair on that value.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

INT32_WRAP = 0x100000000


def mask_span(mask: str) -> tuple[int, int]:
    """(offset, length) of the timestamp bytes selected by the mask.

    Mirrors the reference's first-'1'..last-'1' span
    (``AggregationBuilder.java:109-113``). Raises if the mask has no '1'.
    """
    first = mask.index("1")
    last = mask.rindex("1")
    return first, last - first + 1


def bytes_to_int(span: Column, length: int = 4) -> Column:
    """HBase ``Bytes.toInt`` of a big-endian byte span, as a long: the
    span's bytes fill the HIGH-order positions of the 4-byte int32 (a
    ``length < 4`` span zero-pads on the right, i.e. shifts left), then
    the int32 sign wraps. One shift pair does both on the span's single
    ``conv``: left until the span's first byte tops the long, then an
    arithmetic right shift by 32. A NULL span stays NULL."""
    raw = F.conv(F.hex(span), 16, 10).cast("long")
    return F.shiftright(F.shiftleft(raw, 64 - 8 * length), 32)


def rowkey_seconds(rowkey: Column | str, mask: str) -> Column:
    """Decode embedded big-endian int32 epoch-seconds from a binary rowkey.

    Signed int32 semantics match ``Bytes.toInt``; a rowkey whose length
    differs from the mask's decodes to 0, reproducing the reference's
    mismatch behavior (``AggregationBuilder.java:104-108``).
    """
    key = F.col(rowkey) if isinstance(rowkey, str) else rowkey
    off, length = mask_span(mask)
    if length > 4:
        # Bytes.toInt throws for a >4-byte source span; surface the
        # unsupported layout at build time instead of decoding garbage
        raise ValueError(
            f"mask '1'-span is {length} bytes; the reference decodes exactly "
            "a 4-byte int32 (AggregationBuilder.java:109-115)"
        )
    # the reference copies span bytes into the HIGH-order positions of a
    # 4-byte buffer, so a short span is left-shifted into the int32 top bytes
    signed = bytes_to_int(F.substring(key, off + 1, length), length)
    return F.when(F.length(key) == len(mask), signed).otherwise(F.lit(0))


def rowkey_timestamp(
    rowkey: Column | str,
    mask: str,
    qualifier_offset_s: Column | str | None = None,
) -> Column:
    """Event-time TimestampType from rowkey (+ optional qualifier offset).

    ``event_time = rowkey_seconds + qualifier_offset_seconds`` — the
    reference's key-embedded-timestamp mode
    (``AggregationBuilder.java:84-100``: second-granular ints widened to
    millis; here widened to TimestampType micros).
    """
    secs = rowkey_seconds(rowkey, mask)
    if qualifier_offset_s is not None:
        q = (
            F.col(qualifier_offset_s)
            if isinstance(qualifier_offset_s, str)
            else qualifier_offset_s
        )
        secs = secs + q.cast("long")
    return F.timestamp_seconds(secs)


def encode_rowkey(prefix: bytes, seconds: Column | str) -> Column:
    """Build a reference-layout rowkey: fixed prefix + big-endian int32.

    Inverse of :func:`rowkey_seconds`; used by tests to synthesize
    HBase-shaped fixtures from relational inputs.
    """
    s = F.col(seconds) if isinstance(seconds, str) else seconds
    wrapped = F.when(s < 0, s + INT32_WRAP).otherwise(s).cast("long")
    ts_bytes = F.unhex(F.lpad(F.hex(wrapped), 8, "0"))
    return F.concat(F.lit(prefix), ts_bytes)
