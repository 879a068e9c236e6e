"""Client-side bucket routing: Spark's `hash()` in pure Python.

Every PK snapshot and log bucket file is written under
`pmod(hash(bucket keys), num_buckets)` — Spark's Murmur3Hash expression
(seed 42, chained per column: each column's hash seeds the next). The
reference routes a lookup in the client the same way
(FlussBucketingFunction): the bucket is a pure function of the encoded
key, so the driver resolves it here without a Spark job.

This is a bit-exact port of `Murmur3_x86_32` and
`InterpretedHashFunction.hash` (catalyst/expressions/hash.scala) for
every type `parse_type` produces except MAP, which `check_key_type`
rejects at table creation: Spark refuses `hash()` over maps, whose
entry order is not canonical. Two quirks of Spark's variant matter:
trailing bytes of strings/binaries are mixed one by one as SIGNED bytes
(not the standard Murmur3 tail), and -0.0 hashes like 0.0.
"""

from __future__ import annotations

import datetime
import decimal
import math
import struct
import zoneinfo

from pyspark.sql import types as T

SEED = 42
_M32 = 0xFFFFFFFF
_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_MAX_LONG_DIGITS = 18  # Decimal.MAX_LONG_DIGITS: unscaled value fits a long
_BOOL_STRINGS = dict.fromkeys(("t", "true", "y", "yes", "1"), True) | dict.fromkeys(
    ("f", "false", "n", "no", "0"), False
)
_ATOMIC = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.StringType, T.BinaryType, T.DateType, T.TimestampType,
    T.TimestampNTZType, T.DecimalType,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    return (_rotl((k1 * _C1) & _M32, 15) * _C2) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _signed(h: int) -> int:
    return h - (1 << 32) if h & 0x80000000 else h


def hash_int(value: int, seed: int) -> int:
    return _signed(_fmix(_mix_h1(seed & _M32, _mix_k1(value & _M32)), 4))


def hash_long(value: int, seed: int) -> int:
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _M32, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1(v >> 32))
    return _signed(_fmix(h1, 8))


def hash_bytes(data: bytes, seed: int) -> int:
    """Murmur3_x86_32.hashUnsafeBytes: little-endian 4-byte words, then
    each trailing byte mixed on its own as a signed int."""
    n = len(data)
    aligned = n - n % 4
    h1 = seed & _M32
    for (word,) in struct.iter_unpack("<I", data[:aligned]):
        h1 = _mix_h1(h1, _mix_k1(word))
    for b in data[aligned:]:
        h1 = _mix_h1(h1, _mix_k1(b - 256 if b > 127 else b))
    return _signed(_fmix(h1, n))


def _unscaled(value, dt: T.DecimalType) -> int:
    d = value if isinstance(value, decimal.Decimal) else decimal.Decimal(str(value))
    with decimal.localcontext() as ctx:
        ctx.prec = 80  # exact at any DECIMAL(38, s)
        q = d.quantize(decimal.Decimal(1).scaleb(-dt.scale), rounding=decimal.ROUND_HALF_UP)
        return int(q.scaleb(dt.scale))


def _java_bytes(n: int) -> bytes:
    """BigInteger.toByteArray: minimal big-endian two's complement."""
    return n.to_bytes((n if n >= 0 else ~n).bit_length() // 8 + 1, "big", signed=True)


def _zone(tz: str) -> datetime.tzinfo:
    """A Spark session time zone: a region id or a fixed offset."""
    try:
        return zoneinfo.ZoneInfo(tz)
    except (ValueError, zoneinfo.ZoneInfoNotFoundError):
        return datetime.datetime.fromisoformat(f"2000-01-01T00:00{tz}").tzinfo


def to_internal(value, dt: T.DataType, tz: str = "UTC"):
    """A key value as Spark stores it for `dt`, interpreted the way
    createDataFrame interprets Python values on the write path, plus the
    casts a SQL literal needs (strings for numbers, booleans, ISO dates
    and timestamps). Dates become epoch days, timestamps
    epoch micros (naive TIMESTAMP_LTZ datetimes in the process's local
    time zone, as TimestampType.toInternal reads them; naive TIMESTAMP_LTZ
    strings in the session time zone `tz`, as Spark's cast reads them),
    decimals their unscaled integer, floats their IEEE value at the
    column's width (Infinity past float32's range, like Spark's cast).
    A value the column cannot hold exactly (7.5 for an INT) comes back
    cast; `exact` tells whether it was."""
    if value is None:
        return None
    if isinstance(dt, T.BooleanType):
        if isinstance(value, str):  # Spark's string -> boolean cast
            value = _BOOL_STRINGS[value.strip().lower()]
        return bool(value)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dt, T.FloatType):  # rounded to float32, as the column stores it
        f = float(value)
        try:
            return struct.unpack("<f", struct.pack("<f", f))[0]
        except OverflowError:
            return math.copysign(math.inf, f)
    if isinstance(dt, T.DoubleType):
        return float(value)
    if isinstance(dt, T.StringType):
        return str(value)
    if isinstance(dt, T.BinaryType):
        return bytes(value)
    if isinstance(dt, T.DateType):
        if isinstance(value, str):
            value = datetime.date.fromisoformat(value)
        return dt.toInternal(value)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(value, str):
            value = datetime.datetime.fromisoformat(value)
            if isinstance(dt, T.TimestampType) and value.tzinfo is None:
                value = value.replace(tzinfo=_zone(tz))
        return dt.toInternal(value)
    if isinstance(dt, T.DecimalType):
        return _unscaled(value, dt)
    if isinstance(dt, T.ArrayType):
        return [to_internal(v, dt.elementType, tz) for v in value]
    if isinstance(dt, T.StructType):
        return [to_internal(v, f.dataType, tz) for v, f in zip(_struct_values(value, dt), dt.fields)]
    raise TypeError(f"no bucket hash for type {dt.simpleString()}")


def _struct_values(value, dt: T.StructType):
    return [value.get(f.name) for f in dt.fields] if isinstance(value, dict) else value


_INT_RANGE = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def exact(value, internal, dt: T.DataType) -> bool:
    """Whether `internal` (`to_internal(value, dt)`) is `value` itself,
    i.e. whether Spark's `column = value` can hold for a `dt` column at
    all. False when the value has no exact `dt` form, so no stored row
    equals it: 7.5 or 2**40 for an INT, 12.345 for a DECIMAL(10,2),
    0.1 for a FLOAT (Spark compares that column as a double). Spark
    compares a string with a DECIMAL or FLOAT column as a double, with
    an integral one as a BIGINT, and casts it for the other types."""
    if value is None or internal is None:
        return True
    if type(dt) in _INT_RANGE:
        bits = _INT_RANGE[type(dt)]
        in_range = -(1 << (bits - 1)) <= internal < 1 << (bits - 1)
        return in_range and (isinstance(value, str) or internal == value)
    if isinstance(dt, T.FloatType):
        return math.isnan(internal) or internal == float(value)
    if isinstance(dt, T.DecimalType):
        if len(str(abs(internal))) > dt.precision:
            return False
        stored = decimal.Decimal(internal).scaleb(-dt.scale)
        if isinstance(value, (str, float)):
            return float(stored) == float(value)
        return stored == value
    if isinstance(dt, T.ArrayType):
        return len(value) == len(internal) and all(
            exact(v, i, dt.elementType) for v, i in zip(value, internal)
        )
    if isinstance(dt, T.StructType):
        return all(
            exact(v, i, f.dataType)
            for v, i, f in zip(_struct_values(value, dt), internal, dt.fields)
        )
    return True


def _hash_internal(v, dt: T.DataType, seed: int) -> int:
    if v is None:
        return seed  # a null leaves the running hash unchanged
    if isinstance(dt, T.BooleanType):
        return hash_int(1 if v else 0, seed)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.DateType)):
        return hash_int(v, seed)
    if isinstance(dt, (T.LongType, T.TimestampType, T.TimestampNTZType)):
        return hash_long(v, seed)
    if isinstance(dt, T.FloatType):
        if v == 0.0:
            return hash_int(0, seed)
        bits = 0x7FC00000 if math.isnan(v) else struct.unpack("<i", struct.pack("<f", v))[0]
        return hash_int(bits, seed)
    if isinstance(dt, T.DoubleType):
        if v == 0.0:
            return hash_long(0, seed)
        bits = 0x7FF8000000000000 if math.isnan(v) else struct.unpack("<q", struct.pack("<d", v))[0]
        return hash_long(bits, seed)
    if isinstance(dt, T.StringType):
        return hash_bytes(v.encode("utf-8"), seed)
    if isinstance(dt, T.BinaryType):
        return hash_bytes(v, seed)
    if isinstance(dt, T.DecimalType):
        if dt.precision <= _MAX_LONG_DIGITS:
            return hash_long(v, seed)
        return hash_bytes(_java_bytes(v), seed)
    if isinstance(dt, T.ArrayType):
        for e in v:
            seed = _hash_internal(e, dt.elementType, seed)
        return seed
    if isinstance(dt, T.StructType):
        for e, f in zip(v, dt.fields):
            seed = _hash_internal(e, f.dataType, seed)
        return seed
    raise TypeError(f"no bucket hash for type {dt.simpleString()}")


def check_key_type(name: str, dt: T.DataType) -> None:
    """Reject a bucket-key type no bucket can be computed for."""
    if isinstance(dt, T.MapType):
        raise ValueError(f"bucket key {name!r} cannot be a MAP: Spark's hash() refuses maps")
    if isinstance(dt, T.ArrayType):
        check_key_type(name, dt.elementType)
    elif isinstance(dt, T.StructType):
        for f in dt.fields:
            check_key_type(name, f.dataType)
    elif not isinstance(dt, _ATOMIC):
        raise ValueError(f"bucket key {name!r} has unhashable type {dt.simpleString()}")


def spark_hash(values, types, tz: str = "UTC") -> int:
    """Spark's `hash(c1, c2, ...)` over typed Python values (`tz`: the
    session time zone that reads timestamp strings)."""
    h = SEED
    for v, dt in zip(values, types):
        h = _hash_internal(to_internal(v, dt, tz), dt, h)
    return h


def bucket_of(values, types, num_buckets: int, tz: str = "UTC") -> int:
    """`pmod(hash(keys), num_buckets)`: the bucket a key was written to."""
    return spark_hash(values, types, tz) % num_buckets


def exchange_width(spark, num_buckets: int, touched: list[int] | None = None) -> int:
    """Partition count of a bucket-keyed exchange: no more than the
    table's buckets, the buckets the write touches (`touched`, when the
    caller knows them) or the cores. Every task still holds whole
    buckets, so windows keyed by `__bucket[, pk]` stay correct and a
    `partitionBy(..., __bucket)` write still emits one file per bucket;
    a one-bucket write runs one task, not one per table bucket."""
    n = min(num_buckets, spark.sparkContext.defaultParallelism)
    if touched is not None:
        n = min(n, len(set(touched)))
    return max(1, n)
