"""Value decoder registry — the Spark-native replacement for the reference's
``ColumnInterpreter`` plug-in mechanism.

The reference ships an interpreter *class name* in every request and
instantiates it reflectively on the region server
(``TimeseriesAggregateImplementation.java:122-139`` in /root/reference;
hbase-client's ``ColumnInterpreter`` supplies ``getValue`` bytes→T plus the
promote/divide hooks). Here the same extension point is a plain registry of
named column expressions: bytes→column decoders that run inside codegen — no
remote code loading, no reflection, and the promote/divide algebra collapses
into Spark's cast/aggregate machinery (SURVEY.md §2.1 row 16).

Built-in decoders mirror the interpreters HBase ships (Long / Double /
BigDecimal) in big-endian byte order (``Bytes.toLong`` semantics).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, functions as F

# 2^63 and 2^64 exceed Java long literals → decimal string constants.
# Built lazily: a Column can only be constructed with an active session,
# and this module must import before any SparkSession exists.
def _sign_dec() -> Column:
    return F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")


def _wrap_dec() -> Column:
    return F.expr("CAST('18446744073709551616' AS DECIMAL(20,0))")


def _be_bytes_to_long(c: Column) -> Column:
    """8-byte big-endian signed long (Bytes.toLong). A negative target base
    makes conv() read the 64-bit value as signed, so one conv per row
    decodes it; a shorter input reads as unsigned, an empty one as NULL."""
    return F.conv(F.hex(c), 16, -10).cast("long")


def _long_to_be_bytes(c: Column) -> Column:
    wrapped = F.when(
        c < 0, c.cast("decimal(20,0)") + _wrap_dec()
    ).otherwise(c.cast("decimal(20,0)"))
    # decimal → hex via conv on the string representation
    return F.unhex(F.lpad(F.conv(wrapped.cast("string"), 10, 16), 16, "0"))


def scaled_decimal_decoder(scale: int) -> Callable[[Column], Column]:
    """Decoder for the fixed-scale decimal layout: an 8-byte big-endian
    signed long holding the *unscaled* value (BigDecimal.unscaledValue with a
    known scale — the pure-expression analog of HBase's
    BigDecimalColumnInterpreter; the variable-length Bytes.toBigDecimal
    framing collapses to a schema-level scale here). Entirely conv/hex
    expressions — runs inside codegen."""
    if not 0 <= scale <= 18:
        raise ValueError(f"scale must be in [0, 18], got {scale}")

    def decode(c: Column) -> Column:
        unscaled = _be_bytes_to_long(c)
        return (
            unscaled.cast("decimal(20,0)") / F.lit(10**scale).cast("decimal(20,0)")
        ).cast(f"decimal(20,{scale})")

    return decode


def scaled_decimal_encoder(scale: int) -> Callable[[Column], Column]:
    """Inverse of :func:`scaled_decimal_decoder`: decimal → unscaled long →
    8 big-endian bytes.

    Exact when the input's scale ≤ ``scale``; inputs with more fractional
    digits are rounded HALF_UP to ``scale`` by the decimal cast (documented
    behavior — byte-level round-trip identity holds only for inputs already
    at the target scale). The representable range is ``|unscaled| < 2^63``
    (the 8-byte layout): out-of-range inputs **raise** at evaluation time
    via ``raise_error`` instead of silently encoding NULL/garbage bytes,
    and ``scale`` is validated like :func:`scaled_decimal_decoder`."""
    if not 0 <= scale <= 18:
        raise ValueError(f"scale must be in [0, 18], got {scale}")

    def encode(c: Column) -> Column:
        # decimal(19,0) holds every int64 plus the first out-of-range
        # magnitudes; anything overflowing the cast itself is also caught
        # by the null-with-non-null-input branch below
        unscaled = (
            c.cast(f"decimal(20,{scale})") * F.lit(10**scale).cast("decimal(20,0)")
        ).cast("decimal(21,0)")
        in_range = unscaled.isNotNull() & (F.abs(unscaled) < _sign_dec())
        checked = (
            F.when(c.isNull(), F.lit(None).cast("long"))
            .when(in_range, unscaled.cast("long"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"scaled_decimal_encoder(scale={scale}): value "
                        ),
                        F.coalesce(c.cast("string"), F.lit("?")),
                        F.lit(" has |unscaled| >= 2^63 (8-byte layout)"),
                    )
                )
            )
        )
        return _long_to_be_bytes(checked)

    return encode


DECODERS: dict[str, Callable[[Column], Column]] = {
    "long_be": _be_bytes_to_long,
    "utf8": lambda c: c.cast("string"),
    # BigDecimalColumnInterpreter analog at common scales; arbitrary scales
    # via register_decoder(name, scaled_decimal_decoder(s))
    "decimal_be_2": scaled_decimal_decoder(2),
    "decimal_be_6": scaled_decimal_decoder(6),
}


# --- IEEE-754 double reinterpretation, in pure expressions ----------------
#
# Bytes.toDouble = toLong + Double.longBitsToDouble. There is no
# reinterpret-cast builtin, but the bit algebra is exactly expressible
# because every step is a power-of-two scaling (exact in binary floating
# point): value = (frac + 2^52) · 2^(exp−1075), with the subnormal branch
# frac · 2^−1074 and the non-finite branch from the all-ones exponent.
# pow(2, k) is an exact double for every k in [−1074, 1023], and the final
# multiply is exact because the true product is representable — so the
# decode is bit-exact, not approximate (property-tested against
# struct.unpack on random bit patterns).

_FRAC_MASK = (1 << 52) - 1
_TWO52 = 1 << 52


def _bits_to_double(bits: Column) -> Column:
    """Double.longBitsToDouble as a Column expression (bit-exact)."""
    exp = F.shiftright(bits, 52).bitwiseAND(F.lit(0x7FF))
    frac = bits.bitwiseAND(F.lit(_FRAC_MASK))
    neg = bits < 0
    normal = (frac + F.lit(_TWO52)).cast("double") * F.pow(
        F.lit(2.0), exp.cast("int") - F.lit(1075)
    )
    subnormal = frac.cast("double") * F.lit(float.fromhex("0x1p-1074"))
    nonfinite = F.when(frac == 0, F.lit(float("inf"))).otherwise(F.lit(float("nan")))
    mag = (
        F.when(exp == 0x7FF, nonfinite)
        .when(exp == 0, subnormal)
        .otherwise(normal)
    )
    return F.when(neg, -mag).otherwise(mag)


def _double_to_bits(c: Column) -> Column:
    """Double.doubleToLongBits (canonical NaN) as a Column expression.

    The exponent comes from floor(log2) corrected by two exact power-of-two
    comparisons (log2 alone can be one off at boundaries); the mantissa is
    recovered by the exact scaling a·2^(52−e). Subnormals scale in two
    steps so the intermediate stays in range."""
    a = F.abs(c)
    e0 = F.floor(F.log2(a)).cast("int")
    e = (
        F.when(F.pow(F.lit(2.0), e0 + 1) <= a, e0 + 1)
        .when(F.pow(F.lit(2.0), e0) > a, e0 - 1)
        .otherwise(e0)
    )
    # a·2^(52−e) in two half-steps: 2^(52−e) alone overflows to inf for
    # e < −971 even though the product is in range; each half stays within
    # [2^−486, 2^537] and both scalings are exact
    sh = F.lit(52) - e
    h1 = F.floor(sh / 2).cast("int")
    m = ((a * F.pow(F.lit(2.0), h1)) * F.pow(F.lit(2.0), sh - h1)).cast("long")
    normal_bits = (e.cast("long") + 1023) * F.lit(_TWO52).cast("long") + (
        m - F.lit(_TWO52)
    )
    sub_m = ((a * F.lit(float.fromhex("0x1p537"))) * F.lit(float.fromhex("0x1p537"))).cast("long")
    inf_bits = F.lit(0x7FF << 52).cast("long")
    nan_bits = F.lit((0x7FF << 52) | (1 << 51)).cast("long")
    mag_bits = (
        F.when(F.isnan(c), nan_bits)
        .when(a == F.lit(float("inf")), inf_bits)
        .when(a == 0.0, F.lit(0).cast("long"))
        .when(a < F.lit(float.fromhex("0x1p-1022")), sub_m)
        .otherwise(normal_bits)
    )
    # -0.0 compares == 0.0 and ANSI mode forbids the 1/x sign probe, so the
    # negative-zero sign comes from the string form ("-0.0"); NaN keeps the
    # canonical positive bits
    is_neg = (c < 0.0) | ((c == 0.0) & c.cast("string").startswith("-"))
    # setting the sign bit = subtracting 2^63 in two's complement; the
    # result stays inside the signed-long range, so no overflow path exists
    return F.when(is_neg & ~F.isnan(c), mag_bits + F.lit(-(2**63)).cast("long")).otherwise(
        mag_bits
    )


def _double_be_decode(c: Column) -> Column:
    return _bits_to_double(_be_bytes_to_long(c))


def _double_be_encode(c: Column) -> Column:
    return _long_to_be_bytes(_double_to_bits(c))


DECODERS["double_bits_be"] = _double_be_decode


def register_decoder(name: str, fn: Callable[[Column], Column]) -> None:
    """Register a custom decoder (the plug-in point; pure function of a
    Column — stays JVM-side unless the caller brings a UDF)."""
    DECODERS[name] = fn


def decode_value(c: Column | str, decoder: str = "long_be") -> Column:
    """Decode a BinaryType cell value by registry name."""
    col = F.col(c) if isinstance(c, str) else c
    fn = DECODERS.get(decoder)
    if fn is None:
        raise ValueError(f"unknown decoder {decoder!r}; have {sorted(DECODERS)}")
    return fn(col)


def encode_value(c: Column | str, decoder: str = "long_be") -> Column:
    """Inverse of :func:`decode_value` for the encoders that have one
    (test/fixture synthesis)."""
    col = F.col(c) if isinstance(c, str) else c
    if decoder == "long_be":
        return _long_to_be_bytes(col)
    if decoder == "utf8":
        return F.encode(col.cast("string"), "UTF-8")
    if decoder == "double_bits_be":
        return _double_be_encode(col)
    if decoder.startswith("decimal_be_"):
        return scaled_decimal_encoder(int(decoder.rsplit("_", 1)[1]))(col)
    raise ValueError(f"no encoder for {decoder!r}")
