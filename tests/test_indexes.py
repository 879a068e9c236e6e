"""Secondary indexes: creation, incremental sync from the changelog,
prefix-lookup routing, update/delete consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.indexes import (
    create_index,
    index_lookup,
    index_table_name,
    sync_index,
)
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _base(catalog, spark):
    t = create_table(
        catalog, "db", "orders",
        TableSchema(
            fields=[
                Field("order_id", "BIGINT", nullable=False),
                Field("customer", "STRING"),
                Field("amount", "DOUBLE"),
            ],
            primary_key=["order_id"],
            num_buckets=4,
        ),
    )
    rows = [(i, f"c{i % 5}", float(i)) for i in range(40)]
    t.upsert(
        spark.createDataFrame(rows, "order_id long, customer string, amount double"),
        ordering=["order_id"],
    )
    return t


def test_index_create_and_lookup(spark, catalog):
    t = _base(catalog, spark)
    create_index(catalog, "db", "orders", "customer", spark)
    got = index_lookup(catalog, "db", "orders", "customer", "c3", spark).collect()
    assert sorted(r["order_id"] for r in got) == [3, 8, 13, 18, 23, 28, 33, 38]
    assert all(r["customer"] == "c3" for r in got)
    # missing value -> empty, schema preserved
    empty = index_lookup(catalog, "db", "orders", "customer", "zzz", spark)
    assert empty.count() == 0 and "amount" in empty.columns


def test_index_incremental_sync_updates_and_deletes(spark, catalog):
    t = _base(catalog, spark)
    create_index(catalog, "db", "orders", "customer", spark)
    # move order 3 from c3 to c0, delete order 8, insert order 100 as c3
    t.upsert(spark.createDataFrame(
        [(3, "c0", 3.0), (100, "c3", 100.0)],
        "order_id long, customer string, amount double",
    ), ordering=["order_id"])
    t.delete(spark.createDataFrame(
        [(8, "c3", 8.0)], "order_id long, customer string, amount double"
    ))
    n = sync_index(catalog, "db", "orders", "customer", spark)
    assert n > 0
    got = sorted(
        r["order_id"]
        for r in index_lookup(catalog, "db", "orders", "customer", "c3", spark).collect()
    )
    assert got == [13, 18, 23, 28, 33, 38, 100]
    # the moved key is found under its NEW value
    moved = index_lookup(catalog, "db", "orders", "customer", "c0", spark)
    assert 3 in {r["order_id"] for r in moved.collect()}
    # idempotent: an empty re-sync changes nothing
    assert sync_index(catalog, "db", "orders", "customer", spark) == 0
    again = sorted(
        r["order_id"]
        for r in index_lookup(catalog, "db", "orders", "customer", "c3", spark).collect()
    )
    assert again == got


def test_index_multi_update_within_one_sync(spark, catalog):
    """A -> B -> A within one unsynced slice must resolve to A (the
    final event per (value, pk) pair wins)."""
    t = _base(catalog, spark)
    create_index(catalog, "db", "orders", "customer", spark)
    up = lambda c: t.upsert(spark.createDataFrame(
        [(5, c, 5.0)], "order_id long, customer string, amount double"
    ))
    up("cX")
    up("c1")  # back to its original value's sibling
    sync_index(catalog, "db", "orders", "customer", spark)
    assert 5 not in {
        r["order_id"]
        for r in index_lookup(catalog, "db", "orders", "customer", "cX", spark).collect()
    }
    assert 5 in {
        r["order_id"]
        for r in index_lookup(catalog, "db", "orders", "customer", "c1", spark).collect()
    }


def test_index_is_l2_plan_and_null_skip(spark, catalog):
    t = create_table(
        catalog, "db", "n1",
        TableSchema(
            fields=[
                Field("k", "BIGINT", nullable=False),
                Field("tag", "STRING"),
            ],
            primary_key=["k"],
            num_buckets=2,
        ),
    )
    t.upsert(spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "k long, tag string"
    ))
    create_index(catalog, "db", "n1", "tag", spark)
    idx = FlussTable(catalog, "db", index_table_name("n1", "tag"))
    # NULL tags are not indexed
    assert idx.snapshot(spark).count() == 2
    # the index lookup is the L2 single-scan plan: one file index, no union
    hits = idx.prefix_lookup(spark, {"tag": "a"})
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1 and "Union" not in plan
    got = index_lookup(catalog, "db", "n1", "tag", "a", spark)
    assert sorted(r["k"] for r in got.collect()) == [1, 3]
    # guards
    with pytest.raises(ValueError, match="primary key"):
        create_index(catalog, "db", "n1", "k", spark)
    with pytest.raises(ValueError, match="no such column"):
        create_index(catalog, "db", "n1", "nope", spark)


def test_index_sync_fenced_by_rebucket(spark, catalog):
    """Per-bucket offsets are not comparable across a rebucket: a sync
    HWM recorded under an older bucket epoch must refuse to resume
    (the LogStreamReader contract applied to index maintenance)."""
    from fluss_spark.maintenance import rebucket_table

    t = _base(catalog, spark)
    create_index(catalog, "db", "orders", "customer", spark)
    rebucket_table(t, spark, 8)
    t2 = FlussTable(catalog, "db", "orders")
    t2.upsert(spark.createDataFrame(
        [(200, "c1", 1.0)], "order_id long, customer string, amount double"
    ))
    with pytest.raises(ValueError, match="rebucketed"):
        sync_index(catalog, "db", "orders", "customer", spark)
    # rebuild path works: drop + recreate
    catalog.drop_table("db", index_table_name("orders", "customer"))
    create_index(catalog, "db", "orders", "customer", spark)
    got = index_lookup(catalog, "db", "orders", "customer", "c1", spark)
    assert 200 in {r["order_id"] for r in got.collect()}


def test_sync_refuses_expired_unconsumed_changelog(spark, catalog):
    """TTL deleting changelog commits the index never consumed must
    fail the sync loudly — folding past the gap would silently lose
    those events forever."""
    import time

    t = create_table(
        catalog, "db", "ttl_base",
        TableSchema(
            fields=[Field("id", "BIGINT", nullable=False), Field("v", "BIGINT")],
            primary_key=["id"],
            num_buckets=1,
            properties={"table.log.ttl": "1d"},
        ),
    )
    t.upsert(spark.createDataFrame([(1, 10)], "id bigint, v bigint"), ordering=["id"])
    create_index(catalog, "db", "ttl_base", "v", spark)
    # two commits the index has NOT consumed; TTL keeps the newest
    # segment alive (like the reference), so the OLDER unconsumed one
    # is what expires
    t.upsert(spark.createDataFrame([(2, 20)], "id bigint, v bigint"), ordering=["id"])
    t.upsert(spark.createDataFrame([(3, 30)], "id bigint, v bigint"), ordering=["id"])
    from fluss_spark.maintenance import expire_log_ttl

    day = 86_400_000
    assert expire_log_ttl(t, spark, now_ms=int(time.time() * 1000) + 3 * day) > 0
    with pytest.raises(ValueError, match="expired unconsumed changelog"):
        sync_index(catalog, "db", "ttl_base", "v", spark)


def test_hot_value_lookup_shuffles_instead_of_broadcasting(
    spark, catalog, monkeypatch
):
    """A non-selective index value must never broadcast its pk set:
    past the broadcast threshold the lookup plans a shuffle semi-join
    (no BroadcastExchange), and the result is still correct."""
    import fluss_spark.indexes as ix
    import plan_inspect as plans

    t = _base(catalog, spark)
    create_index(catalog, "db", "orders", "customer", spark)
    # force both small-regimes off: every hit count exceeds the caps
    monkeypatch.setattr(ix, "_IN_FILTER_MAX_PKS", 0)
    monkeypatch.setattr(ix, "_BROADCAST_MAX_PKS", 0)
    df = index_lookup(catalog, "db", "orders", "customer", "c3", spark)
    got = sorted(r["order_id"] for r in df.collect())
    assert got == [3, 8, 13, 18, 23, 28, 33, 38]
    assert "BroadcastExchange" not in plans.physical_plan(df)


def test_create_index_rejects_wal_image_base(spark, catalog):
    """wal-image changelogs drop UPDATE_BEFORE rows, so the sync could
    never retract old-value mappings — creation must fail loudly."""
    t = create_table(
        catalog, "db", "walbase",
        TableSchema(
            fields=[Field("id", "BIGINT", nullable=False), Field("v", "BIGINT")],
            primary_key=["id"],
            num_buckets=1,
            properties={"table.changelog.image": "wal"},
        ),
    )
    t.upsert(spark.createDataFrame([(1, 10)], "id bigint, v bigint"), ordering=["id"])
    with pytest.raises(ValueError, match="changelog.image"):
        create_index(catalog, "db", "walbase", "v", spark)


def test_sync_catches_bucket_born_between_syncs(spark, catalog):
    """A pk whose hash lands in a bucket UNTOUCHED at the previous sync
    must still reach the index: recorded offsets only list buckets
    written by then, and the changelog read treats missing buckets as
    resume-from-0, not excluded (the silent-data-loss class the
    snapshot-diff property test exposed)."""
    from pyspark.sql import functions as F

    n_buckets = 8
    t = create_table(
        catalog, "db", "born",
        TableSchema(
            fields=[
                Field("id", "BIGINT", nullable=False),
                Field("grp", "BIGINT"),
            ],
            primary_key=["id"],
            num_buckets=n_buckets,
        ),
    )
    # find two keys hashing to DIFFERENT buckets
    probe = spark.createDataFrame([(i,) for i in range(64)], "id bigint").select(
        "id", F.pmod(F.hash("id"), F.lit(n_buckets)).alias("b")
    ).collect()
    by_bucket = {}
    for r in probe:
        by_bucket.setdefault(r["b"], r["id"])
    buckets = sorted(by_bucket)
    k1, k2 = by_bucket[buckets[0]], by_bucket[buckets[1]]

    t.upsert(spark.createDataFrame([(k1, 7)], "id bigint, grp bigint"), ordering=["id"])
    create_index(catalog, "db", "born", "grp", spark)  # sync point: only k1's bucket has offsets
    t.upsert(spark.createDataFrame([(k2, 7)], "id bigint, grp bigint"), ordering=["id"])
    assert sync_index(catalog, "db", "born", "grp", spark) > 0
    got = sorted(
        r["id"] for r in index_lookup(catalog, "db", "born", "grp", 7, spark).collect()
    )
    assert got == sorted([k1, k2])


def test_create_index_on_empty_base_then_catch_up(spark, catalog):
    """Snapshot-bootstrapped create on an EMPTY base: the seed upsert is
    empty and latest_offsets is {}, so the recorded sync map must fall
    back to resume-from-zero — the first real commit is then fully
    absorbed by the next sync, not silently skipped."""
    t = create_table(
        catalog, "db", "eb",
        TableSchema(
            fields=[Field("k", "BIGINT", nullable=False), Field("v", "STRING")],
            primary_key=["k"],
            num_buckets=2,
        ),
    )
    create_index(catalog, "db", "eb", "v", spark)
    idx = FlussTable(catalog, "db", index_table_name("eb", "v"))
    assert idx.snapshot(spark).count() == 0
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    assert sync_index(catalog, "db", "eb", "v", spark) == 2
    got = index_lookup(catalog, "db", "eb", "v", "a", spark)
    assert [r["k"] for r in got.collect()] == [1]
