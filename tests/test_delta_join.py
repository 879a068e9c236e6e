"""Index-backed delta join (streaming/delta_join.py).

Reference: the Flink 2.2 delta join over Fluss pk tables
(Flink22DeltaJoinITCase.java) probes the other side's STORAGE by its
bucket-key index instead of holding join state in the engine; the
pair-keyed pk sink turns re-emission into the +I/-U/+U update stream.

The contract under test: after draining, the sink snapshot equals the
BATCH inner join of the two tables' final states — through incremental
commits on either side, updates that change pair values, interleaved
commits between drains, and delete-ignore semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.streaming.delta_join import DeltaJoin
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk_side(catalog, name, val_col):
    schema = TableSchema(
        fields=[
            Field("uid", "BIGINT", nullable=False),
            Field("item", "STRING", nullable=False),
            Field(val_col, "DOUBLE"),
        ],
        primary_key=["uid", "item"],
        bucket_keys=["uid"],
        num_buckets=4,
    )
    return create_table(catalog, "db", name, schema)


def _mk_sink(catalog, name):
    schema = TableSchema(
        fields=[
            Field("uid", "BIGINT", nullable=False),
            Field("l_item", "STRING", nullable=False),
            Field("l_lv", "DOUBLE"),
            Field("r_item", "STRING", nullable=False),
            Field("r_rv", "DOUBLE"),
        ],
        primary_key=["uid", "l_item", "r_item"],
        num_buckets=4,
    )
    return create_table(catalog, "db", name, schema)


def _rows(spark, val_col, data):
    return spark.createDataFrame(data, f"uid bigint, item string, {val_col} double")


def _batch_join(spark, left, right):
    """The batch reference: inner join of the CURRENT table states."""
    l = left.snapshot(spark).select(
        "uid", F.col("item").alias("l_item"), F.col("lv").alias("l_lv")
    )
    r = right.snapshot(spark).select(
        "uid", F.col("item").alias("r_item"), F.col("rv").alias("r_rv")
    )
    return l.join(r, on="uid", how="inner")


def _rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def test_delta_join_converges_to_batch_join(spark, catalog):
    left = _mk_side(catalog, "dj_left", "lv")
    right = _mk_side(catalog, "dj_right", "rv")
    sink = _mk_sink(catalog, "dj_sink")
    dj = DeltaJoin(left, right, on=["uid"], sink=sink)

    # phase 1: left only — inner join emits nothing yet
    left.upsert(_rows(spark, "lv", [(1, "a", 1.0), (2, "b", 2.0)]))
    assert dj.process_available(spark) == 1
    assert sink.snapshot(spark).count() == 0

    # phase 2: right arrives — storage probe of the left side
    right.upsert(_rows(spark, "rv", [(1, "x", 10.0), (3, "y", 30.0)]))
    dj.process_available(spark)
    assert _rows_of(sink.snapshot(spark)) == _rows_of(_batch_join(spark, left, right))
    assert _rows_of(sink.snapshot(spark)) == [(1, "a", 1.0, "x", 10.0)]

    # phase 3: both sides move in one drain window, incl. a value update
    left.upsert(_rows(spark, "lv", [(1, "a", 1.5), (3, "c", 3.0)]))
    right.upsert(_rows(spark, "rv", [(2, "z", 20.0)]))
    dj.process_available(spark)
    assert _rows_of(sink.snapshot(spark)) == _rows_of(_batch_join(spark, left, right))

    # the value update reached the existing pair
    assert (1, "a", 1.5, "x", 10.0) in _rows_of(sink.snapshot(spark))
    # drained: nothing more to do
    assert dj.process_available(spark) == 0


def test_delta_join_multi_match_and_updates(spark, catalog):
    """Fan-out pairs (one uid, many items on both sides) and an update
    on one side must refresh every pair it participates in."""
    left = _mk_side(catalog, "fan_left", "lv")
    right = _mk_side(catalog, "fan_right", "rv")
    sink = _mk_sink(catalog, "fan_sink")
    dj = DeltaJoin(left, right, on=["uid"], sink=sink)

    left.upsert(_rows(spark, "lv", [(7, "a", 1.0), (7, "b", 2.0)]))
    right.upsert(_rows(spark, "rv", [(7, "x", 10.0), (7, "y", 20.0)]))
    dj.process_available(spark)
    assert sink.snapshot(spark).count() == 4
    assert _rows_of(sink.snapshot(spark)) == _rows_of(_batch_join(spark, left, right))

    right.upsert(_rows(spark, "rv", [(7, "x", 11.0)]))
    dj.process_available(spark)
    got = _rows_of(sink.snapshot(spark))
    assert got == _rows_of(_batch_join(spark, left, right))
    assert (7, "a", 1.0, "x", 11.0) in got and (7, "b", 2.0, "x", 11.0) in got


def test_delta_join_ignores_deletes(spark, catalog):
    """Reference delta-join sources run table.delete.behavior=IGNORE —
    a deleted upstream key stops producing NEW pairs but does not
    retract pairs already in the sink."""
    left = _mk_side(catalog, "del_left", "lv")
    right = _mk_side(catalog, "del_right", "rv")
    sink = _mk_sink(catalog, "del_sink")
    dj = DeltaJoin(left, right, on=["uid"], sink=sink)

    left.upsert(_rows(spark, "lv", [(1, "a", 1.0)]))
    right.upsert(_rows(spark, "rv", [(1, "x", 10.0)]))
    dj.process_available(spark)
    assert sink.snapshot(spark).count() == 1

    left.delete(_rows(spark, "lv", [(1, "a", 1.0)]))
    dj.process_available(spark)
    # no retraction; and the delete emitted no new pair
    assert _rows_of(sink.snapshot(spark)) == [(1, "a", 1.0, "x", 10.0)]

    # a new right row for uid 1 probes the CURRENT left state (empty)
    right.upsert(_rows(spark, "rv", [(1, "y", 40.0)]))
    dj.process_available(spark)
    assert sink.snapshot(spark).count() == 1


def test_delta_join_eligibility(spark, catalog):
    left = _mk_side(catalog, "el_left", "lv")
    right = _mk_side(catalog, "el_right", "rv")
    sink = _mk_sink(catalog, "el_sink")
    with pytest.raises(ValueError, match="bucket key"):
        DeltaJoin(left, right, on=["item"], sink=sink)  # bucket key not in join key
    log_schema = TableSchema(
        fields=[Field("uid", "BIGINT"), Field("v", "DOUBLE")], num_buckets=2
    )
    log_t = create_table(catalog, "db", "el_log", log_schema)
    with pytest.raises(ValueError, match="pk tables"):
        DeltaJoin(log_t, right, on=["uid"], sink=sink)


def test_delta_join_refuses_after_a_rebucket(spark, catalog):
    """Per-bucket offsets do not compare across a rebucket: a DeltaJoin
    whose side was rebucketed after its last batch refuses to poll
    instead of misreading the new layout's offset ranges."""
    from fluss_spark.maintenance import rebucket_table

    left = _mk_side(catalog, "rb_left", "lv")
    right = _mk_side(catalog, "rb_right", "rv")
    sink = _mk_sink(catalog, "rb_sink")
    dj = DeltaJoin(left, right, on=["uid"], sink=sink)
    left.upsert(_rows(spark, "lv", [(1, "a", 1.0)]))
    right.upsert(_rows(spark, "rv", [(1, "x", 10.0)]))
    assert dj.process_available(spark) == 1

    rebucket_table(left, spark, 8)
    left.upsert(_rows(spark, "lv", [(2, "b", 2.0)]))
    with pytest.raises(ValueError, match="rebucketed"):
        dj.poll(spark)
