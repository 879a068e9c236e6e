"""Keyed reads answered on the driver (L1 `lookup`, L2 `prefix_lookup`)
must return exactly `snapshot().filter(key)`: hits, misses, buckets
holding no rows, typed and nested value columns with nulls, under a
UTC and a non-UTC session time zone (the bucket files are read by
pyarrow, and Spark's INT96 timestamps come back tz-naive), plus
schema-evolved (era) dirs, partitioned tables and a deferred WAL tail.

With no WAL tail pending, the result is an Arrow-backed frame: every
probe also checks that its collect(), count(), isEmpty(), schema,
columns, toArrow() and toPandas() equal those of the local relation
Spark builds from the same Arrow table, value for value and type for
type, and that they run no Spark job and never build the JVM side."""

from __future__ import annotations

import datetime
import decimal
import os
import uuid
from functools import reduce

import pytest
from pyspark.sql import functions as F

import plan_inspect as plans
from fluss_spark.catalog import Catalog
from fluss_spark.sources.kv import _ArrowFrame
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema

NUM_BUCKETS = 8
DDL = (
    "k bigint, s int, ts timestamp, ntz timestamp_ntz, d10 decimal(10,2), "
    "d30 decimal(30,4), bin binary, arr array<int>, m map<string,int>, "
    "st struct<a:int,b:string>"
)


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


@pytest.fixture()
def fsql(spark, catalog):
    from fluss_spark.sql_ddl import FlussSqlSession

    return FlussSqlSession(catalog, spark, default_db="db")


@pytest.fixture(params=["UTC", "America/Los_Angeles"])
def session_tz(spark, request):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", request.param)
    yield request.param
    spark.conf.set("spark.sql.session.timeZone", old)


# TIMESTAMP_LTZ values far outside the 1677..2262 range of nanosecond
# timestamps (a day after 0001-01-01: Python cannot collect that instant)
FIRST, LAST = datetime.datetime(1, 1, 2, 0, 0, 0, 1), datetime.datetime(9999, 12, 31, 23, 59, 59, 999999)


def _row(k, s, i):
    if i % 4 == 0:  # every value column null
        return (k, s) + (None,) * 8
    t0 = datetime.datetime(2024, 3, 10, 1, 30) + datetime.timedelta(minutes=37 * i)  # spans a DST switch
    ts = {1: FIRST, 2: LAST}.get(i % 8, t0)
    return (
        k, s, ts, t0.replace(microsecond=123456),
        decimal.Decimal(f"{i}.{i % 100:02d}"),
        decimal.Decimal(f"{10**20 + i}.{i % 10000:04d}"),
        bytes([i % 256, 255, 0]), [i, None, -i], {"x": i, "y": None},
        (i, None if i % 3 == 0 else f"s{i}"),
    )


def _norm(rows):
    return sorted(repr(r.asDict(recursive=True)) for r in rows)


def _answers(df) -> dict:
    """What a lookup's caller reads off `df` without a plan, each in a
    form whose repr shows Python types as well as values (bytes vs
    bytearray, int vs float, tz-aware vs naive datetimes). toPandas()
    runs with Arrow off (with Arrow on it takes the JVM route); one that
    raises answers with its exception type."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        pdf = df.toPandas()
        pandas = repr(pdf.dtypes.to_dict()) + repr(pdf.to_dict("list"))
    except Exception as e:  # a timestamp past pandas' nanosecond range
        pandas = type(e).__name__
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", old)
    return {
        "collect": repr(df.collect()), "count": df.count(), "isEmpty": df.isEmpty(),
        "schema": df.schema, "columns": df.columns, "toArrow": df.toArrow(), "toPandas": pandas,
    }


def _assert_answers_from_arrow(spark, df):
    """`df` answers exactly as `spark.createDataFrame(arrow, struct)`
    over its Arrow table does, without a Spark job and without building
    its JVM side."""
    assert isinstance(df, _ArrowFrame)
    sc = spark.sparkContext
    group = f"arrow-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "arrow-backed lookup result")
    try:
        got = _answers(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert "_jdf" not in vars(df)
    want = _answers(spark.createDataFrame(df._table, df.schema))
    assert got.keys() == want.keys()
    for k in got:
        assert got[k] == want[k], (k, got[k], want[k])


class _Equivalence:
    """Checks keyed reads against `snapshot().filter(key)`: the first
    probe runs that filter in Spark; the rest filter the snapshot's
    rows, collected once, by the same key equality. With no WAL tail
    pending, each result must also answer from Arrow
    (`_assert_answers_from_arrow`)."""

    def __init__(self, spark, t):
        self.spark, self.t = spark, t
        self.rows = None
        self.arrow = t.kv._tail_start(t.catalog.current_commit(t.db, t.name)) is None

    def __call__(self, key, prefix=False):
        df = (self.t.prefix_lookup if prefix else self.t.lookup)(self.spark, key)
        if self.arrow:
            _assert_answers_from_arrow(self.spark, df)
        got = df.collect()
        if self.rows is None:
            cond = reduce(lambda a, b: a & b, [F.col(c) == F.lit(v) for c, v in key.items()])
            want = self.t.snapshot(self.spark).filter(cond).collect()
            self.rows = self.t.snapshot(self.spark).collect()
        else:
            want = [r for r in self.rows if all(r[c] == v for c, v in key.items())]
        assert _norm(got) == _norm(want), key
        return len(got)


def _buckets_of(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    return {r["k"]: r["b"] for r in df.select("k", F.pmod(F.hash("k"), F.lit(NUM_BUCKETS)).alias("b")).collect()}


def test_keyed_reads_equal_filtered_snapshot(spark, catalog, session_tz):
    t = create_table(
        catalog, "db", "kr",
        TableSchema(
            fields=[
                Field("k", "BIGINT"), Field("s", "INT"),
                Field("ts", "TIMESTAMP_LTZ"), Field("ntz", "TIMESTAMP"),
                Field("d10", "DECIMAL(10,2)"), Field("d30", "DECIMAL(30,4)"),
                Field("bin", "BYTES"), Field("arr", "ARRAY<INT>"),
                Field("m", "MAP<STRING, INT>"), Field("st", "ROW<a INT, b STRING>"),
            ],
            primary_key=["k", "s"],
            bucket_keys=["k"],
            num_buckets=NUM_BUCKETS,
        ),
    )
    bucket = _buckets_of(spark, range(300))
    # rows only in buckets 0-5; bucket 5 is later deleted in full, and
    # 6-7 never hold a row
    live = [k for k in range(300) if bucket[k] < 5][:8]
    gone = [k for k in range(300) if bucket[k] == 5][:2]
    empty = [k for k in range(300) if bucket[k] >= 6][:2]
    t.upsert(spark.createDataFrame(
        [_row(k, s, 3 * i + s) for i, k in enumerate(live + gone) for s in range(3)], DDL
    ))
    # second commit: a strict subset of buckets (multi-dir manifest),
    # an update, a new line and every row of bucket 5 deleted
    t.upsert(spark.createDataFrame([_row(live[0], 0, 41), _row(live[0], 7, 42)], DDL))
    t.delete(spark.createDataFrame(
        [_row(k, s, 0) for k in gone for s in range(3)], DDL
    ).select("k", "s"))
    check, hits = _Equivalence(spark, t), 0
    for k in live + gone + empty:
        for s in (0, 1, 7, 9):
            hits += check({"k": k, "s": s})
        hits += check({"k": k}, prefix=True)
    # lookups hit s=0 and s=1 of each live key plus the new (live[0], 7);
    # prefix lookups hit every live row
    assert hits == (2 * len(live) + 1) + (3 * len(live) + 1)
    assert {FIRST, LAST} <= {r["ts"] for r in t.prefix_lookup(spark, {"k": live[0]}).collect()}


def test_inexact_key_values_match_no_row(spark, catalog, fsql):
    """A key value the column cannot hold exactly (7.5 for an INT, 12.345
    for a DECIMAL(10,2), 0.1 for a FLOAT, a BIGINT past the INT range)
    matches no row, as under Spark's `=`; it is cast only to route. The
    same holds for the DML predicates that take the keyed-read path."""
    t = create_table(
        catalog, "db", "inexact",
        TableSchema(
            fields=[Field("k", "INT"), Field("d", "DECIMAL(10,2)"), Field("f", "FLOAT"), Field("v", "STRING")],
            primary_key=["k", "d", "f"],
            bucket_keys=["k"],
            num_buckets=4,
        ),
    )
    t.upsert(spark.createDataFrame(
        [(7, decimal.Decimal("12.35"), 0.5, "a"), (7, decimal.Decimal("12.34"), 0.1, "b")],
        "k int, d decimal(10,2), f float, v string",
    ))
    d35, d34 = decimal.Decimal("12.35"), decimal.Decimal("12.34")
    cases = [
        ({"k": 7.5, "d": d35, "f": 0.5}, 0), ({"k": 7, "d": 12.345, "f": 0.5}, 0),
        ({"k": 7, "d": decimal.Decimal("12.345"), "f": 0.5}, 0), ({"k": 7, "d": d34, "f": 0.1}, 0),
        ({"k": 2**32 + 7, "d": d35, "f": 0.5}, 0), ({"k": 7, "d": 1e12, "f": 0.5}, 0),
        ({"k": 7.0, "d": 12.35, "f": 0.5}, 1), ({"k": "7", "d": "12.35", "f": "0.5"}, 1),
    ]
    for key, hits in cases:
        assert _Equivalence(spark, t)(key) == hits, key
    for k, hits in ((7.5, 0), (2**32 + 7, 0), (7.0, 2)):
        assert _Equivalence(spark, t)({"k": k}, prefix=True) == hits, k
    fsql.sql("DELETE FROM db.inexact WHERE k = 7.5 AND d = 12.35 AND f = 0.5")
    fsql.sql("UPDATE db.inexact SET v = 'x' WHERE k = 7 AND d = 12.345 AND f = 0.5")
    fsql.sql("DELETE FROM db.inexact WHERE k = 7.5")
    assert sorted(r["v"] for r in t.snapshot(spark).collect()) == ["a", "b"]
    fsql.sql("UPDATE db.inexact SET v = 'x' WHERE k = 7 AND d = 12.35 AND f = 0.5")
    assert sorted(r["v"] for r in t.snapshot(spark).collect()) == ["b", "x"]


def test_timestamp_string_key_reads_in_the_session_time_zone(spark, catalog):
    """A naive TIMESTAMP_LTZ string in a key (a SQL literal) is a time in
    the session time zone, as Spark's cast reads it: it routes to and
    matches the row of that instant. The session zone differs from the
    process's, which reads naive datetimes."""
    t = create_table(
        catalog, "db", "tsk",
        TableSchema(
            fields=[Field("ts", "TIMESTAMP_LTZ"), Field("v", "INT")],
            primary_key=["ts"],
            num_buckets=8,
        ),
    )
    utc = datetime.timezone.utc
    t.upsert(spark.createDataFrame(
        [(datetime.datetime(2024, 3, 10, h, 30, tzinfo=utc), h) for h in range(24)], "ts timestamp, v int"
    ))
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")  # UTC+05:45
    try:
        for text, v in (("2024-03-10 15:15:00", 9), ("2024-03-10T06:15:00", 0), ("2024-03-10 15:16:00", None)):
            assert _Equivalence(spark, t)({"ts": text}) == (v is not None), text
            assert [r["v"] for r in t.lookup(spark, {"ts": text}).collect()] == ([v] if v is not None else [])
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_era_dir_lookup_equals_filtered_snapshot(spark, catalog):
    """Rows in a dir written before a rename + widen are read in their
    physical layout and mapped onto the current schema."""
    from fluss_spark.admin import Admin, AlterColumnType, RenameColumn

    t = create_table(
        catalog, "db", "era",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("v", "STRING"), Field("n", "INT")],
            primary_key=["k"],
            num_buckets=4,
        ),
    )
    t.upsert(spark.createDataFrame([(k, f"v{k}", k) for k in range(12)], "k long, v string, n int"))
    Admin(catalog).alter_table("db", "era", [RenameColumn("v", "name"), AlterColumnType("n", "BIGINT")])
    t = FlussTable(catalog, "db", "era")
    t.upsert(spark.createDataFrame([(3, "new", 2**40)], "k long, name string, n long"))
    check = _Equivalence(spark, t)
    for k in (0, 3, 5, 11, 99):
        check({"k": k})
    assert [tuple(r) for r in t.lookup(spark, {"k": 5}).collect()] == [(5, "v5", 5)]


def test_era_dir_lookup_of_widened_key_column(spark, catalog):
    """A pk column widened after a dir was written (INT -> BIGINT,
    DECIMAL(6,2) -> DECIMAL(12,2)) is read at its old type there: a key
    past the old range matches no row of that dir instead of failing."""
    from fluss_spark.admin import Admin, AlterColumnType

    t = create_table(
        catalog, "db", "erak",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("s", "INT"), Field("d", "DECIMAL(6,2)"), Field("v", "STRING")],
            primary_key=["k", "s", "d"],
            bucket_keys=["k"],
            num_buckets=4,
        ),
    )
    ddl = "k long, s int, d decimal(6,2), v string"
    t.upsert(spark.createDataFrame([(k, k, decimal.Decimal(k), f"v{k}") for k in range(12)], ddl))
    Admin(catalog).alter_table("db", "erak", [AlterColumnType("s", "BIGINT"), AlterColumnType("d", "DECIMAL(12,2)")])
    t = FlussTable(catalog, "db", "erak")
    big = decimal.Decimal("1234567.89")
    t.upsert(spark.createDataFrame(
        [(3, 2**40, big, "new")], "k long, s long, d decimal(12,2), v string"
    ))
    check = _Equivalence(spark, t)
    for k in range(12):
        for s, d in ((2**40, big), (2**40, decimal.Decimal(k)), (k, big), (k, decimal.Decimal(k))):
            check({"k": k, "s": s, "d": d})
    assert [r["v"] for r in t.lookup(spark, {"k": 3, "s": 2**40, "d": big}).collect()] == ["new"]
    assert [r["v"] for r in t.lookup(spark, {"k": 5, "s": 5, "d": decimal.Decimal(5)}).collect()] == ["v5"]


def test_deferred_tail_lookup_equals_filtered_snapshot(spark, catalog):
    """A deferred WAL tail (updates, deletes, inserts not yet
    materialized) merges over the driver-side base read."""
    t = create_table(
        catalog, "db", "tail",
        TableSchema(
            fields=[Field("k", "INT"), Field("s", "INT"), Field("v", "STRING")],
            primary_key=["k", "s"],
            bucket_keys=["k"],
            num_buckets=4,
            properties={"table.snapshot.defer-commits": "4"},
        ),
    )
    t.upsert(spark.createDataFrame(
        [(k, s, f"a{k}.{s}") for k in range(8) for s in range(2)], "k int, s int, v string"
    ))
    t.kv.materialize(spark)
    t.upsert(spark.createDataFrame([(1, 0, "b"), (9, 0, "new")], "k int, s int, v string"))
    t.delete(spark.createDataFrame([(2, 1)], "k int, s int"))
    state = catalog.current_commit("db", "tail")
    assert t.kv._tail_start(state) is not None  # the tail is pending
    check = _Equivalence(spark, t)
    for k in (0, 1, 2, 9, 50):
        for s in (0, 1):
            check({"k": k, "s": s})
        check({"k": k}, prefix=True)
    assert [r["v"] for r in t.lookup(spark, {"k": 1, "s": 0}).collect()] == ["b"]
    assert t.lookup(spark, {"k": 2, "s": 1}).collect() == []


def test_array_key_lookup_equals_filtered_snapshot(spark, catalog):
    """A nested (ARRAY) key column is matched after the read, not by a
    pushed-down filter."""
    t = create_table(
        catalog, "db", "arrk",
        TableSchema(
            fields=[Field("k", "ARRAY<INT>"), Field("s", "STRING"), Field("v", "INT")],
            primary_key=["k", "s"],
            bucket_keys=["k"],
            num_buckets=4,
        ),
    )
    t.upsert(spark.createDataFrame(
        [([i, None, -i], f"s{j}", i * 10 + j) for i in range(6) for j in range(2)] + [([], "e", 99)],
        "k array<int>, s string, v int",
    ))
    check = _Equivalence(spark, t)
    for k in ([1, None, -1], [2, None, -2], [], [7], [1, None]):
        for s in ("s0", "s1", "e"):
            check({"k": k, "s": s})
        check({"k": k}, prefix=True)
    assert [r["v"] for r in t.lookup(spark, {"k": [4, None, -4], "s": "s1"}).collect()] == [41]


def test_arrow_backed_result_builds_its_plan_when_spark_needs_one(spark, catalog):
    """Uses that need a plan build the JVM side once, on first use, as
    the local relation over the same Arrow table: a join, select,
    explain, inputFiles() (a local relation reads no file), toPandas()
    with Arrow on, and a write all still work, for a hit and a miss."""
    t = create_table(
        catalog, "db", "plan_side",
        TableSchema(
            fields=[Field("k", "INT"), Field("s", "INT"), Field("st", "ROW<a INT, b STRING>")],
            primary_key=["k", "s"],
            bucket_keys=["k"],
            num_buckets=4,
        ),
    )
    t.upsert(spark.createDataFrame(
        [(k, s, None if s else (k, None)) for k in range(6) for s in range(2)], "k int, s int, st struct<a:int,b:string>"
    ))
    for key, n in (({"k": 3}, 2), ({"k": 99}, 0)):
        df = t.prefix_lookup(spark, key)
        ref = spark.createDataFrame(df._table, df.schema)
        assert "_jdf" not in vars(df)
        assert df.join(ref.select("k", "s"), ["k", "s"]).count() == n
        jdf = vars(df)["_jdf"]
        assert df.select("s").orderBy("s").collect() == ref.select("s").orderBy("s").collect()
        assert "LocalTableScan" in plans.physical_plan(df)
        assert df.inputFiles() == []
        assert vars(df)["_jdf"] is jdf  # built once
        assert repr(df.toPandas().to_dict("list")) == repr(ref.toPandas().to_dict("list"))
        out = str(catalog.warehouse) + f"/out-{n}"
        df.write.parquet(out)
        assert spark.read.parquet(out).count() == n


def test_partitioned_keyed_reads_answer_from_arrow(spark, catalog, monkeypatch):
    """A partitioned table reads the one leaf dir of the manifest's
    (partition, bucket) entry whose partition values equal the key's,
    adding the partition columns as typed constants: no Spark job, the
    same rows as `snapshot().filter(key)` for hits, misses, absent
    partitions and partitions a later commit rewrote."""
    t = create_table(
        catalog, "db", "part_kr",
        TableSchema(
            fields=[
                Field("day", "DATE", nullable=False), Field("region", "INT", nullable=False),
                Field("k", "BIGINT", nullable=False), Field("s", "INT", nullable=False), Field("v", "STRING"),
            ],
            primary_key=["day", "region", "k", "s"],
            partition_keys=["day", "region"],
            bucket_keys=["k"],
            num_buckets=4,
        ),
    )
    days = [datetime.date(2024, 1, d) for d in (1, 2)]
    ddl = "day date, region int, k long, s int, v string"
    t.upsert(spark.createDataFrame(
        [(d, r, k, s, f"{d.day}.{r}.{k}.{s}") for d in days for r in (1, 20) for k in range(6) for s in range(2)], ddl
    ))
    # a second commit rewrites one partition: its entries move to a new dir
    t.upsert(spark.createDataFrame([(days[1], 20, 3, 0, "new"), (days[1], 20, 3, 5, "added")], ddl))
    t.delete(spark.createDataFrame([(days[0], 1, 4, 1)], "day date, region int, k long, s int"))
    ver = catalog.current_commit("db", "part_kr").snapshot_version
    assert len(t.kv.referenced_data_dirs(ver)) >= 2
    check = _Equivalence(spark, t)
    for d in days + [datetime.date(2024, 1, 3)]:
        for r in (1, 20, 7):
            for k in (3, 4, 50):
                check({"day": d, "region": r, "k": k, "s": 0})
                check({"day": d, "region": r, "k": k, "s": 1})
                check({"day": d, "region": r, "k": k}, prefix=True)
    # a key value cast to the column type (a SQL literal), filtered by Spark
    assert _Equivalence(spark, t)({"day": "2024-01-02", "region": 20.0, "k": "3", "s": 1}) == 1
    import pyarrow.dataset as pads

    opened, real = [], pads.dataset
    monkeypatch.setattr(pads, "dataset", lambda src, *a, **kw: opened.extend(src) or real(src, *a, **kw))
    rows = t.prefix_lookup(spark, {"day": days[1], "region": 20, "k": 3}).collect()
    leaves = {os.path.relpath(os.path.dirname(f), t.kv.snapshot_dir) for f in opened}
    leaf = f"/day=2024-01-02/region=20/__bucket={_buckets_of(spark, [3])[3]}"
    assert len(leaves) == 1 and leaves.pop().endswith(leaf), leaves
    assert sorted((r["day"], r["region"], r["s"], r["v"]) for r in rows) == [
        (days[1], 20, 0, "new"), (days[1], 20, 1, "2.20.3.1"), (days[1], 20, 5, "added")
    ]
