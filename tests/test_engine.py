"""Engine tests: log store, PK upsert transaction, merge engines,
changelog semantics — FIXTURES.md §B scripted-replay golden checks."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "warehouse"))


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


# ---------------------------------------------------------------------- #
# B1: log table
# ---------------------------------------------------------------------- #


def test_log_table_append_scan(spark, catalog):
    schema = TableSchema(
        fields=[Field("a", "INT"), Field("b", "STRING")],
        num_buckets=3,
    )
    t = create_table(catalog, "db", "logt", schema)
    data = [(i % 100, f"v{i}") for i in range(200)]
    df = spark.createDataFrame(data, "a int, b string")
    t.append(df, ordering=["b"])
    t.append(spark.createDataFrame([(999, "late")], "a int, b string"), ordering=["b"])

    scan = t.scan(spark)
    assert scan.count() == 201
    # offsets contiguous per bucket from 0
    per_bucket = scan.groupBy("__bucket").agg(
        F.min("__offset").alias("mn"), F.max("__offset").alias("mx"), F.count("*").alias("n")
    ).collect()
    for r in per_bucket:
        assert r["mn"] == 0 and r["n"] == r["mx"] + 1
    # metadata count without scan
    assert t.count() == 201
    # projection + filter
    assert t.scan(spark).filter(F.col("a") == 999).select("b").collect()[0][0] == "late"
    # limit scan in log order
    assert t.limit_scan(spark, 5).count() == 5
    # offset-bounded scan: everything except commit-2 rows
    end = {b: off for b, off in t.latest_offsets().items()}
    first_commit = t.scan(spark, end_offsets=end).count()
    assert first_commit == 201


def test_log_table_offset_time_travel(spark, catalog):
    schema = TableSchema(fields=[Field("a", "INT")], num_buckets=2)
    t = create_table(catalog, "db", "tt", schema)
    t.append(spark.createDataFrame([(1,), (2,)], "a int"), ordering=["a"], commit_ts_ms=1000)
    mid = t.latest_offsets()
    t.append(spark.createDataFrame([(3,), (4,)], "a int"), ordering=["a"], commit_ts_ms=2000)
    # start from the offsets taken between commits -> only commit 2 rows
    got = sorted(r["a"] for r in t.scan(spark, start_offsets=mid).collect())
    assert got == [3, 4]
    # timestamp -> offset index (S8)
    offs = t.offsets_for_timestamp(spark, 1500)
    got2 = sorted(r["a"] for r in t.scan(spark, start_offsets=offs).collect())
    assert got2 == [3, 4]


# ---------------------------------------------------------------------- #
# B2: PK table, default merge — upserts, deletes, changelog exactness
# ---------------------------------------------------------------------- #


def _pk_schema(**props):
    return TableSchema(
        fields=[Field("a", "INT", nullable=False), Field("b", "STRING")],
        primary_key=["a"],
        num_buckets=3,
        properties=props,
    )


def test_pk_upsert_snapshot_and_changelog(spark, catalog):
    t = create_table(catalog, "db", "pkt", _pk_schema())
    # batch 1: two keys
    t.upsert(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"), ordering=["b"])
    assert _rows(t.snapshot(spark), "a") == [(1, "x"), (2, "y")]
    # batch 2: update 1, insert 3, delete 2
    b2 = spark.createDataFrame(
        [(1, "x2", "U", 1), (3, "z", "U", 2), (2, None, "D", 3)],
        "a int, b string, __op string, ord int",
    )
    t.upsert(b2, ordering=["ord"])
    assert _rows(t.snapshot(spark), "a") == [(1, "x2"), (3, "z")]

    # changelog per key in offset order
    cl = t.changelog(spark).orderBy("_log_offset")
    per_key = {}
    for r in cl.collect():
        per_key.setdefault(r["a"], []).append((r["_change_type"], r["b"]))
    assert per_key[1] == [("+I", "x"), ("-U", "x"), ("+U", "x2")]
    assert per_key[2] == [("+I", "y"), ("-D", "y")]
    assert per_key[3] == [("+I", "z")]

    # replay invariant: fold the changelog -> snapshot
    from fluss_spark.sources.kv import KvStore

    kv = KvStore(catalog, "db", "pkt")
    replayed = kv._state_from_changelog(t.log.scan(spark))
    assert _rows(replayed, "a") == [(1, "x2"), (3, "z")]


def test_pk_multiple_updates_one_batch(spark, catalog):
    t = create_table(catalog, "db", "pkt2", _pk_schema())
    b = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3)], "a int, b string, ord int"
    )
    t.upsert(b, ordering=["ord"])
    cl = [(r["_change_type"], r["b"]) for r in t.changelog(spark).orderBy("_log_offset").collect()]
    assert cl == [("+I", "a"), ("-U", "a"), ("+U", "b"), ("-U", "b"), ("+U", "c")]
    assert _rows(t.snapshot(spark), "a") == [(1, "c")]


def test_pk_delete_behaviors(spark, catalog):
    # ignore: deletes are no-ops
    t = create_table(catalog, "db", "pk_ign", _pk_schema(**{"table.delete.behavior": "ignore"}))
    t.upsert(spark.createDataFrame([(1, "x")], "a int, b string"))
    t.delete(spark.createDataFrame([(1, "x")], "a int, b string"))
    assert _rows(t.snapshot(spark), "a") == [(1, "x")]
    # disable: deletes raise
    t2 = create_table(catalog, "db", "pk_dis", _pk_schema(**{"table.delete.behavior": "disable"}))
    t2.upsert(spark.createDataFrame([(1, "x")], "a int, b string"))
    with pytest.raises(Exception, match="delete"):
        t2.delete(spark.createDataFrame([(1, "x")], "a int, b string"))


def test_pk_lookup(spark, catalog):
    t = create_table(catalog, "db", "pk_lk", _pk_schema())
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(50)], "a int, b string"))
    assert t.lookup(spark, {"a": 7}).collect()[0]["b"] == "v7"
    assert t.lookup(spark, {"a": 777}).count() == 0


def test_prefix_lookup(spark, catalog):
    schema = TableSchema(
        fields=[Field("a", "INT"), Field("b", "STRING"), Field("c", "BIGINT")],
        primary_key=["a", "b", "c"],
        bucket_keys=["a", "b"],
        num_buckets=3,
    )
    t = create_table(catalog, "db", "pk_pfx", schema)
    rows = [(a, f"k{a % 3}", c) for a in range(10) for c in range(3)]
    t.upsert(spark.createDataFrame(rows, "a int, b string, c bigint"), ordering=["c"])
    got = t.prefix_lookup(spark, {"a": 4, "b": "k1"})
    assert sorted(r["c"] for r in got.collect()) == [0, 1, 2]


def test_prefix_lookup_partitioned(spark, catalog):
    """L2 on a partitioned table: the lookup columns must be partition
    fields + bucket key (Lookup.java:80-84); the prefix property is
    checked with partition fields excluded from both sides."""
    schema = TableSchema(
        fields=[
            Field("dt", "STRING", nullable=False),
            Field("a", "INT"),
            Field("c", "BIGINT"),
            Field("v", "STRING"),
        ],
        primary_key=["dt", "a", "c"],
        partition_keys=["dt"],
        bucket_keys=["a"],
        num_buckets=3,
    )
    t = create_table(catalog, "db", "pk_pfx_part", schema)
    rows = [
        (dt, a, c, f"{dt}-{a}-{c}")
        for dt in ("d1", "d2")
        for a in range(4)
        for c in range(2)
    ]
    t.upsert(spark.createDataFrame(rows, "dt string, a int, c bigint, v string"), ordering=["c"])
    got = t.prefix_lookup(spark, {"dt": "d1", "a": 2})
    assert sorted(r["v"] for r in got.collect()) == ["d1-2-0", "d1-2-1"]
    # partition field is REQUIRED on partitioned tables
    with pytest.raises(ValueError, match="partition field"):
        t.prefix_lookup(spark, {"a": 2})


# ---------------------------------------------------------------------- #
# B4: partial update
# ---------------------------------------------------------------------- #


def test_partial_update(spark, catalog):
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("c1", "STRING"),
            Field("c2", "STRING"),
            Field("c3", "STRING"),
        ],
        primary_key=["k"],
        num_buckets=2,
    )
    t = create_table(catalog, "db", "pk_part", schema)
    t.upsert(
        spark.createDataFrame([(1, "a1")], "k int, c1 string"),
        partial_update_cols=["k", "c1"],
    )
    # first partial write leaves other columns null
    assert _rows(t.snapshot(spark), "k") == [(1, "a1", None, None)]
    t.upsert(
        spark.createDataFrame([(1, "b2")], "k int, c2 string"),
        partial_update_cols=["k", "c2"],
    )
    # untouched columns survive
    assert _rows(t.snapshot(spark), "k") == [(1, "a1", "b2", None)]
    cl = [
        (r["_change_type"], r["c1"], r["c2"])
        for r in t.changelog(spark).orderBy("_log_offset").collect()
    ]
    assert cl == [("+I", "a1", None), ("-U", "a1", None), ("+U", "a1", "b2")]


def test_partial_update_delete_retracts_columns(spark, catalog):
    schema = TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("c1", "STRING"), Field("c2", "STRING")],
        primary_key=["k"],
        num_buckets=2,
    )
    t = create_table(catalog, "db", "pk_pd", schema)
    t.upsert(spark.createDataFrame([(1, "a", "b")], "k int, c1 string, c2 string"))
    # partial delete of c1 only -> row survives with c1 null
    d = spark.createDataFrame([(1, "a")], "k int, c1 string").withColumn("__op", F.lit("D"))
    t.upsert(d, partial_update_cols=["k", "c1"])
    assert _rows(t.snapshot(spark), "k") == [(1, None, "b")]
    # partial delete of c2 -> all non-pk null -> row dies
    d2 = spark.createDataFrame([(1, "b")], "k int, c2 string").withColumn("__op", F.lit("D"))
    t.upsert(d2, partial_update_cols=["k", "c2"])
    assert t.snapshot(spark).count() == 0


# ---------------------------------------------------------------------- #
# B5: first_row & versioned merge engines
# ---------------------------------------------------------------------- #


def test_first_row_merge(spark, catalog):
    t = create_table(
        catalog, "db", "mt_first", _pk_schema(**{"table.merge-engine": "first_row"})
    )
    b = spark.createDataFrame(
        [(1, "first", 1), (1, "second", 2), (2, "only", 3)], "a int, b string, ord int"
    )
    t.upsert(b, ordering=["ord"])
    assert _rows(t.snapshot(spark), "a") == [(1, "first"), (2, "only")]
    # insert-only changelog
    cl = [(r["_change_type"], r["b"]) for r in t.changelog(spark).orderBy("_log_offset").collect()]
    assert sorted(cl) == [("+I", "first"), ("+I", "only")]
    # later batch can't override
    t.upsert(spark.createDataFrame([(1, "third", 1)], "a int, b string, ord int"), ordering=["ord"])
    assert _rows(t.snapshot(spark), "a") == [(1, "first"), (2, "only")]


def test_versioned_merge(spark, catalog):
    schema = TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("v", "STRING"), Field("ver", "BIGINT")],
        primary_key=["k"],
        num_buckets=2,
        properties={
            "table.merge-engine": "versioned",
            "table.merge-engine.versioned.ver-column": "ver",
        },
    )
    t = create_table(catalog, "db", "mt_ver", schema)
    b = spark.createDataFrame(
        [
            (1, "v5", 5, 1),
            (1, "v3", 3, 2),   # lower version: ignored
            (1, "v5b", 5, 3),  # tie: newer write wins
            (2, "null_ver", None, 4),
            (2, "v1", 1, 5),   # beats null (= -inf)
            (3, "only_null", None, 6),
        ],
        "k int, v string, ver bigint, ord int",
    )
    t.upsert(b, ordering=["ord"])
    assert _rows(t.snapshot(spark), "k") == [
        (1, "v5b", 5),
        (2, "v1", 1),
        (3, "only_null", None),
    ]
    # changelog: only effective changes emit
    cl = [(r["k"], r["_change_type"], r["v"]) for r in t.changelog(spark).orderBy("_log_offset").collect()]
    k1 = [c for c in cl if c[0] == 1]
    assert k1 == [(1, "+I", "v5"), (1, "-U", "v5"), (1, "+U", "v5b")]
    # old version arriving later is still ignored across batches
    t.upsert(spark.createDataFrame([(1, "v0", 0, 1)], "k int, v string, ver bigint, ord int"), ordering=["ord"])
    assert _rows(t.snapshot(spark).filter("k=1"), "k") == [(1, "v5b", 5)]


# ---------------------------------------------------------------------- #
# B6: aggregation merge engine — function matrix
# ---------------------------------------------------------------------- #


def test_aggregation_merge(spark, catalog):
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("s_sum", "BIGINT", agg="sum"),
            Field("s_max", "INT", agg="max"),
            Field("s_min", "INT", agg="min"),
            Field("s_last", "STRING", agg="last_value"),
            Field("s_lastnn", "STRING", agg="last_value_ignore_nulls"),
            Field("s_first", "STRING", agg="first_value"),
            Field("s_firstnn", "STRING", agg="first_value_ignore_nulls"),
            Field("s_list", "STRING", agg="listagg"),
            Field("s_band", "BOOLEAN", agg="bool_and"),
            Field("s_bor", "BOOLEAN", agg="bool_or"),
            Field("s_prod", "DOUBLE", agg="product"),
        ],
        primary_key=["k"],
        num_buckets=2,
        properties={"table.merge-engine": "aggregation"},
    )
    t = create_table(catalog, "db", "mt_agg", schema)
    ddl = (
        "k int, s_sum bigint, s_max int, s_min int, s_last string, s_lastnn string, "
        "s_first string, s_firstnn string, s_list string, s_band boolean, s_bor boolean, "
        "s_prod double, ord int"
    )
    b = spark.createDataFrame(
        [
            (1, 10, 5, 5, "a", "a", "a", "a", "x", True, False, 2.0, 1),
            (1, None, 9, 2, None, None, None, None, "y", False, True, 3.0, 2),
            (1, 7, 1, 9, "c", "c", "c", "c", None, None, None, None, 3),
        ],
        ddl,
    )
    t.upsert(b, ordering=["ord"])
    row = t.snapshot(spark).collect()[0]
    assert row["s_sum"] == 17
    assert row["s_max"] == 9 and row["s_min"] == 2
    assert row["s_last"] == "c"          # last value, nulls overwrite
    assert row["s_lastnn"] == "c"        # last non-null
    assert row["s_first"] == "a"
    assert row["s_firstnn"] == "a"
    assert row["s_list"] == "x,y"
    assert row["s_band"] is False and row["s_bor"] is True
    assert row["s_prod"] == 6.0
    # second batch accumulates onto the seed
    b2 = spark.createDataFrame(
        [(1, 3, 20, 1, "d", None, "z", "z", "z", True, False, 2.0, 1)], ddl
    )
    t.upsert(b2, ordering=["ord"])
    row = t.snapshot(spark).collect()[0]
    assert row["s_sum"] == 20 and row["s_max"] == 20 and row["s_min"] == 1
    assert row["s_last"] == "d" and row["s_first"] == "a"
    assert row["s_list"] == "x,y,z"
    assert row["s_prod"] == 12.0


# ---------------------------------------------------------------------- #
# T9: binlog view, row-level update/delete
# ---------------------------------------------------------------------- #


def test_binlog_view(spark, catalog):
    t = create_table(catalog, "db", "pk_bl", _pk_schema())
    t.upsert(spark.createDataFrame([(1, "x")], "a int, b string"))
    t.upsert(spark.createDataFrame([(1, "y")], "a int, b string"))
    t.delete(spark.createDataFrame([(1, "y")], "a int, b string"))
    bl = t.binlog(spark).orderBy("_log_offset").collect()
    ops = [(r["op_type"], r["before"], r["after"]) for r in bl]
    assert ops[0][0] == "INSERT" and ops[0][1] is None and ops[0][2]["b"] == "x"
    assert ops[1][0] == "UPDATE" and ops[1][1]["b"] == "x" and ops[1][2]["b"] == "y"
    assert ops[2][0] == "DELETE" and ops[2][1]["b"] == "y" and ops[2][2] is None


def test_row_level_update_delete(spark, catalog):
    t = create_table(catalog, "db", "pk_rl", _pk_schema())
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(10)], "a int, b string"))
    t.update_where(spark, F.col("a") < 3, {"b": F.lit("small")})
    t.delete_where(spark, F.col("a") >= 8)
    snap = _rows(t.snapshot(spark), "a")
    assert len(snap) == 8
    assert all(b == "small" for a, b in snap if a < 3)
    assert all(a < 8 for a, b in snap)


# ---------------------------------------------------------------------- #
# WAL-first commit crash consistency: the staged WAL files are the
# lineage cut; a crash at ANY point before the catalog CURRENT advance
# must leave the table exactly at its previous commit, and a retry must
# land the batch exactly once.
# ---------------------------------------------------------------------- #
def _crash_table(catalog, spark, name):
    t = create_table(
        catalog, "db", name,
        TableSchema(
            fields=[Field("id", "BIGINT", nullable=False), Field("v", "DOUBLE")],
            primary_key=["id"],
            num_buckets=2,
        ),
    )
    t.upsert(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id bigint, v double"),
        ordering=["id"],
    )
    return t


@pytest.mark.parametrize("crash_point", ["publish", "catalog_commit"])
def test_upsert_crash_before_current_advance_is_invisible(
    spark, catalog, monkeypatch, crash_point
):
    t = _crash_table(catalog, spark, f"cr_{crash_point}")
    batch = spark.createDataFrame([(2, 20.0), (3, 3.0)], "id bigint, v double")

    if crash_point == "publish":
        from fluss_spark import fsops

        orig = fsops.replace_dir

        def boom(src, dst):  # the WAL dir's move into the log publishes it
            if str(dst).startswith(t.log.log_dir):
                raise RuntimeError("simulated crash before publish")
            return orig(src, dst)

        monkeypatch.setattr(fsops, "replace_dir", boom)
    else:
        orig = type(catalog).commit

        def boom(self, db, table, state):
            raise RuntimeError("simulated crash before CURRENT advance")

        monkeypatch.setattr(type(catalog), "commit", boom)

    with pytest.raises(RuntimeError, match="simulated crash"):
        t.upsert(batch, ordering=["id"])
    monkeypatch.undo()

    # the failed commit is invisible: snapshot, scan and changelog all
    # reflect the previous commit only
    assert {tuple(r) for r in t.snapshot(spark).collect()} == {(1, 1.0), (2, 2.0)}
    assert t.changelog(spark).count() == 2  # the two seed +I events

    # retry lands the batch exactly once (no double rows, no lost rows)
    t.upsert(batch, ordering=["id"])
    assert {tuple(r) for r in t.snapshot(spark).collect()} == {
        (1, 1.0), (2, 20.0), (3, 3.0),
    }
    cl = t.changelog(spark)
    assert cl.filter("id = 3 AND _change_type = '+I'").count() == 1
    assert cl.filter("id = 2 AND _change_type = '+U'").count() == 1


@pytest.mark.parametrize("crash_point", ["wal_rename", "manifest_write"])
def test_single_action_crash_at_publish_prep_is_invisible(
    spark, catalog, monkeypatch, crash_point
):
    """Crash points SPECIFIC to the fused single-action commit: right at
    the WAL-dir rename (combined write finished, nothing published) and
    at the manifest write (both renames done, catalog not advanced).
    Either way the failed commit must be invisible and a retry must land
    the batch exactly once — the retry's write-lock sweep drops the
    leftovers, and reads resolve strictly through the catalog CURRENT
    pointer."""
    from fluss_spark import fsops
    from fluss_spark.sources.kv import KvStore

    t = _crash_table(catalog, spark, f"cr_sa_{crash_point}")
    batch = spark.createDataFrame([(2, 20.0), (3, 3.0)], "id bigint, v double")

    if crash_point == "wal_rename":
        orig_replace_dir = fsops.replace_dir

        def boom(src, dst):
            if "commit-v" in str(src):
                raise RuntimeError("simulated crash at WAL rename")
            return orig_replace_dir(src, dst)

        # every directory move goes through the fsops seam
        monkeypatch.setattr(fsops, "replace_dir", boom)
    else:
        def boom(self, version, entries, dir_pairs=None):
            raise RuntimeError("simulated crash at manifest write")

        monkeypatch.setattr(KvStore, "_write_manifest", boom)

    with pytest.raises(RuntimeError, match="simulated crash"):
        t.upsert(batch, ordering=["id"])
    monkeypatch.undo()

    assert {tuple(r) for r in t.snapshot(spark).collect()} == {(1, 1.0), (2, 2.0)}
    assert t.changelog(spark).count() == 2

    t.upsert(batch, ordering=["id"])
    assert {tuple(r) for r in t.snapshot(spark).collect()} == {
        (1, 1.0), (2, 20.0), (3, 3.0),
    }
    cl = t.changelog(spark)
    assert cl.filter("id = 3 AND _change_type = '+I'").count() == 1
    assert cl.filter("id = 2 AND _change_type = '+U'").count() == 1


def test_snapshot_diff_bounded_versions(spark, catalog):
    """snapshot_diff between two EXPLICIT versions reads only that
    changelog slice: changes from commits after v2 must not appear,
    identical-state keys are excluded, and unknown versions fail."""
    t = create_table(
        catalog, "db", "sdiff",
        TableSchema(
            fields=[Field("id", "BIGINT", nullable=False), Field("v", "DOUBLE")],
            primary_key=["id"],
            num_buckets=2,
        ),
    )
    up = lambda rows: t.upsert(
        spark.createDataFrame(rows, "id bigint, v double"), ordering=["id"]
    )
    s1 = up([(1, 1.0), (2, 2.0)])
    # slice v1->v2: update 2, insert 3, delete+reinsert 1 with SAME value
    t.delete(spark.createDataFrame([(1, 1.0)], "id bigint, v double"))
    s2 = up([(1, 1.0), (2, 20.0), (3, 3.0)])
    up([(4, 4.0)])  # after v2 — must not appear

    got = {
        tuple(r)
        for r in t.snapshot_diff(spark, v1=s1.version, v2=s2.version).collect()
    }
    assert got == {(2, "U", 2.0, 20.0), (3, "I", None, 3.0)}
    # v2 defaults to current
    cur = {tuple(r) for r in t.snapshot_diff(spark, v1=s2.version).collect()}
    assert cur == {(4, "I", None, 4.0)}
    import pytest as _pt

    with _pt.raises(ValueError, match="no such commit"):
        t.snapshot_diff(spark, v1=999)


def test_snapshot_diff_refuses_a_v1_before_a_rebucket(spark, catalog):
    """A rebucket renumbers every bucket's offsets, so v1's HWMs do not
    bound a slice of the rewritten changelog: the diff must refuse."""
    from fluss_spark import maintenance as mnt

    t = create_table(
        catalog, "db", "sdiff_rb",
        TableSchema(
            fields=[Field("id", "BIGINT", nullable=False), Field("v", "DOUBLE")],
            primary_key=["id"],
            num_buckets=2,
        ),
    )
    up = lambda rows: t.upsert(
        spark.createDataFrame(rows, "id bigint, v double"), ordering=["id"]
    )
    s1 = up([(1, 1.0), (2, 2.0)])
    up([(2, 20.0), (3, 3.0)])
    mnt.rebucket_table(t, spark, 4)
    t = FlussTable(catalog, "db", "sdiff_rb")
    with pytest.raises(ValueError, match="rebucketed"):
        t.snapshot_diff(spark, v1=s1.version).collect()


@pytest.mark.slow
def test_snapshot_diff_matches_bruteforce_property(spark):
    """Property: for ANY op sequence split into commits and ANY version
    pair, the changelog-slice diff equals the brute-force full-outer
    comparison of the two materialized snapshots."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ops_st = st.lists(
        st.tuples(
            st.integers(0, 4),                  # key
            st.sampled_from(["U", "D"]),
            st.integers(0, 3),                  # value
        ),
        min_size=2,
        max_size=16,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(seq=ops_st, n_commits=st.integers(2, 3), data=st.data())
    def check(seq, n_commits, data):
        from fluss_spark.operators.replay import OP_COL

        cat = Catalog(tempfile.mkdtemp(prefix="sdiff_prop_"))
        t = create_table(
            cat, "db", "p",
            TableSchema(
                fields=[Field("id", "BIGINT", nullable=False), Field("v", "BIGINT")],
                primary_key=["id"],
                num_buckets=2,
            ),
        )
        per = max(1, len(seq) // n_commits)
        versions = []
        for i in range(0, len(seq), per):
            chunk = seq[i : i + per]
            df = spark.createDataFrame(
                [(k, v, op) for k, op, v in chunk],
                f"id bigint, v bigint, {OP_COL} string",
            ).withColumn("__ord", F.monotonically_increasing_id())
            versions.append(t.upsert(df, ordering=["__ord"]).version)
        i1 = data.draw(st.integers(0, len(versions) - 1), label="v1_idx")
        i2 = data.draw(st.integers(i1, len(versions) - 1), label="v2_idx")
        v1, v2 = versions[i1], versions[i2]

        got = {
            (r["id"], r["change"], r["old_v"], r["new_v"])
            for r in t.snapshot_diff(spark, v1=v1, v2=v2).collect()
        }
        s1 = {r["id"]: r["v"] for r in t.snapshot(spark, version=v1).collect()}
        s2 = {r["id"]: r["v"] for r in t.snapshot(spark, version=v2).collect()}
        want = set()
        for k in set(s1) | set(s2):
            if k in s1 and k not in s2:
                want.add((k, "D", s1[k], None))
            elif k not in s1 and k in s2:
                want.add((k, "I", None, s2[k]))
            elif s1[k] != s2[k]:
                want.add((k, "U", s1[k], s2[k]))
        assert got == want, (seq, versions, v1, v2)

    check()
