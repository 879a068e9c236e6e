"""Client-side bucket routing: `fluss_spark.bucketing` must equal Spark's
`hash()` bit for bit, because every bucket file was written under
`pmod(hash(bucket keys), num_buckets)`. Values are handed to Spark
through createDataFrame, the way the write path ingests them."""

from __future__ import annotations

import datetime
import decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_spark.bucketing import bucket_of, spark_hash
from fluss_spark.catalog import Catalog
from fluss_spark.table import create_table
from fluss_spark.types import Field, TableSchema


def _spark_hashes(spark, dts, rows):
    schema = T.StructType([T.StructField(f"c{i}", dt) for i, dt in enumerate(dts)])
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(F.hash(*df.columns)).collect()]


def _assert_same(spark, dts, rows):
    want = _spark_hashes(spark, dts, rows)
    got = [spark_hash(r, dts) for r in rows]
    assert got == want, [(r, g, w) for r, g, w in zip(rows, got, want) if g != w]


_STRUCT = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])

EDGE_CASES = [
    (T.ByteType(), [-128, 127, 0, -1]),
    (T.ShortType(), [-32768, 32767, -2]),
    (T.IntegerType(), [-(2**31), 2**31 - 1, 7, -7]),
    (T.LongType(), [-(2**63), 2**63 - 1, 7, -7, 2**32]),
    # lengths 0..8 cover every remainder mod 4; non-ASCII bytes are
    # negative as signed bytes, which Spark's tail loop mixes one by one
    (T.StringType(), ["", "a", "ab", "abc", "abcd", "abcde", "é", "日本", "ÿÿÿ", "üñï©ødé"]),
    (T.BinaryType(), [b"", b"\x80", b"\xff\x00", b"\x01\x02\xfe", b"abcd\xff"]),
    (T.DateType(), [datetime.date(1970, 1, 1), datetime.date(1, 1, 1), datetime.date(1969, 12, 31)]),
    (T.TimestampType(), [datetime.datetime(2024, 3, 10, 2, 30, 0, 123456), datetime.datetime(1900, 1, 1)]),
    (T.TimestampNTZType(), [datetime.datetime(2024, 3, 10, 2, 30), datetime.datetime(1969, 12, 31, 23, 59, 59, 1)]),
    (T.DecimalType(10, 2), [decimal.Decimal("12.34"), decimal.Decimal("-99999999.99"), decimal.Decimal("0.00")]),
    (T.DecimalType(18, 0), [decimal.Decimal(10**18 - 1), decimal.Decimal(-(10**18) + 1)]),
    (T.DecimalType(19, 0), [decimal.Decimal(10**18), decimal.Decimal(-128), decimal.Decimal(-129)]),
    (T.DecimalType(30, 4), [decimal.Decimal("12345678901234567890.1234"), decimal.Decimal("-0.0001"), decimal.Decimal("255")]),
    (T.DecimalType(38, 10), [decimal.Decimal("9" * 28 + "." + "9" * 10), decimal.Decimal("-1.5")]),
    (T.BooleanType(), [True, False]),
    (T.FloatType(), [0.0, -0.0, float("nan"), float("inf"), -1.5, 3.4e38, 1e-45]),
    (T.DoubleType(), [0.0, -0.0, float("nan"), float("-inf"), 1e308, -5e-324]),
    (T.ArrayType(T.IntegerType()), [[], [1, None, 3], [None]]),
    (T.ArrayType(T.StringType()), [["a", "bcd"], [""]]),
    (_STRUCT, [(1, "x"), (None, None), (None, "yy")]),
]


@pytest.mark.parametrize("dt,values", EDGE_CASES, ids=[dt.simpleString() for dt, _ in EDGE_CASES])
def test_hash_matches_spark_on_edge_values(spark, dt, values):
    _assert_same(spark, [dt], [(v,) for v in values] + [(None,)])


def test_null_leaves_the_running_hash_unchanged(spark):
    dts = [T.IntegerType(), T.StringType(), T.LongType()]
    rows = [(None, "a", 5), (1, None, 5), (1, "a", None), (None, None, None)]
    _assert_same(spark, dts, rows)
    assert spark_hash([None, "a", 5], dts) == spark_hash(["a", 5], dts[1:])
    assert spark_hash([None], [T.IntegerType()]) == 42


def test_sql_literal_strings_hash_like_spark_casts(spark):
    """SQL DML hands quoted literals over as strings: each must route
    like Spark's cast of that string to the column type."""
    cases = [
        ("7", T.IntegerType()), ("-9", T.LongType()), ("false", T.BooleanType()),
        ("Y", T.BooleanType()), ("2.5", T.DoubleType()), ("12.345", T.DecimalType(10, 2)),
        ("2024-02-29", T.DateType()), ("2024-02-29 13:14:15.5", T.TimestampNTZType()),
    ]
    want = spark.range(1).select(
        *[F.hash(F.lit(v).cast(dt)).alias(f"h{i}") for i, (v, dt) in enumerate(cases)]
    ).first()
    assert [spark_hash([v], [dt]) for v, dt in cases] == list(want)


def test_timestamp_ltz_strings_hash_in_the_session_time_zone(spark):
    """A naive TIMESTAMP_LTZ string is read in the session time zone,
    like Spark's cast, not in the process's (which reads naive
    datetimes); strings with an offset keep it. TIMESTAMP_NTZ strings
    have no zone."""
    texts = ["2024-03-10 02:30:00", "2024-11-03T01:30:00.25", "1900-01-01 00:00:00", "2024-01-01T00:00:00+02:00"]
    old = spark.conf.get("spark.sql.session.timeZone")
    for tz in ("Asia/Kathmandu", "America/Los_Angeles", "+03:30"):
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            want = spark.range(1).select(
                *[F.hash(F.lit(v).cast(dt)) for v in texts for dt in ("timestamp", "timestamp_ntz")]
            ).first()
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        got = [spark_hash([v], [dt], tz) for v in texts for dt in (T.TimestampType(), T.TimestampNTZType())]
        assert got == list(want), tz


def test_float_keys_past_float32_range_hash_as_infinity(spark):
    """Spark's cast of a double past float32's range to FLOAT gives
    +-Infinity; so does the routing cast."""
    values = [1e39, -1e39, 3.5e38, "1e39"]
    want = spark.range(1).select(*[F.hash(F.lit(float(v)).cast("float")) for v in values]).first()
    assert [spark_hash([v], [T.FloatType()]) for v in values] == list(want)


def test_bucket_is_pmod_of_the_hash(spark):
    """Negative hashes land in [0, n) exactly like pmod()."""
    keys = list(range(-50, 50)) + [2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(k,) for k in keys], "k int")
    want = [r[0] for r in df.select(F.pmod(F.hash("k"), F.lit(7))).collect()]
    assert [bucket_of([k], [T.IntegerType()], 7) for k in keys] == want


def test_map_bucket_key_rejected_at_create(tmp_path):
    schema = TableSchema(
        fields=[Field("m", "MAP<STRING, INT>", nullable=False), Field("v", "INT")],
        primary_key=["m"],
    )
    with pytest.raises(ValueError, match="MAP"):
        create_table(Catalog(str(tmp_path / "wh")), "db", "t", schema)


# -- property tests ---------------------------------------------------------

_TEXT = st.text(st.characters(codec="utf-8"), max_size=11)
_TYPES = [
    (T.ByteType(), st.integers(-(2**7), 2**7 - 1)),
    (T.ShortType(), st.integers(-(2**15), 2**15 - 1)),
    (T.IntegerType(), st.integers(-(2**31), 2**31 - 1)),
    (T.LongType(), st.integers(-(2**63), 2**63 - 1)),
    (T.StringType(), _TEXT),
    (T.BinaryType(), st.binary(max_size=11)),
    (T.DateType(), st.dates()),
    (T.TimestampType(), st.datetimes(min_value=datetime.datetime(1900, 1, 1))),
    (T.TimestampNTZType(), st.datetimes()),
    (T.DecimalType(10, 2), st.decimals(min_value=-(10**8) + 1, max_value=10**8 - 1, places=2)),
    (T.DecimalType(30, 4), st.decimals(min_value=-(10**26) + 1, max_value=10**26 - 1, places=4)),
    (T.BooleanType(), st.booleans()),
    (T.FloatType(), st.floats(width=32)),
    (T.DoubleType(), st.floats()),
    (T.ArrayType(T.LongType()), st.lists(st.none() | st.integers(-(2**63), 2**63 - 1), max_size=4)),
    (_STRUCT, st.tuples(st.none() | st.integers(-(2**31), 2**31 - 1), st.none() | _TEXT)),
]


def _rows(draw, cols, n):
    return [tuple(draw(st.none() | vs) for _dt, vs in cols) for _ in range(n)]


@pytest.mark.slow
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_hash_matches_spark_per_type(spark_session, data):
    dt, vs = data.draw(st.sampled_from(_TYPES))
    rows = _rows(data.draw, [(dt, vs)], data.draw(st.integers(1, 30)))
    _assert_same(spark_session, [dt], rows)


@pytest.mark.slow
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_hash_matches_spark_over_column_chains(spark_session, data):
    cols = data.draw(st.lists(st.sampled_from(_TYPES), min_size=2, max_size=4))
    rows = _rows(data.draw, cols, data.draw(st.integers(1, 20)))
    _assert_same(spark_session, [dt for dt, _ in cols], rows)
