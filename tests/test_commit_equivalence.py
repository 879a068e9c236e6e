"""Single-action commit ≡ two-pass commit.

The fused commit (`KvStore._commit`: one write action producing WAL +
snapshot as sibling partition dirs) must produce the SAME commit
artifacts as the two-pass WAL-first baseline
(`twopass_baseline.commit_twopass`, an independent implementation kept
in tests/) for any batch sequence and every pk-table layout (plain,
partitioned, auto-increment):

  - identical snapshot rows,
  - identical per-bucket high-water marks,
  - identical changelog events INCLUDING per-row WAL offsets: since
    round 8 both paths assign per-bucket offsets in the same
    (seq, sub, pk) arrival order (the reference WAL appends in arrival
    order within a bucket), so the full (bucket, offset, event) tuple
    multiset must match row-for-row, cross-key included,
  - per-(key, commit) WAL offset order == fold (seq, sub) order.
"""

from __future__ import annotations

import types as pytypes

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.operators.replay import DEST_COL
from fluss_spark.table import create_table
from fluss_spark.types import (
    BUCKET_COL,
    CHANGE_TYPE_COL,
    OFFSET_COL,
    TIMESTAMP_COL,
    Field,
    TableSchema,
)
from twopass_baseline import commit_twopass


def _schema():
    return TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
            Field("n", "BIGINT"),
        ],
        primary_key=["k"],
        num_buckets=4,
        properties={},
    )


def _force_twopass(t):
    """Route every commit of this table through the two-pass baseline in
    place of the fused write-and-publish (`KvStore._commit`). The fold's
    output additionally carries __bucket, __dest and the snapshot
    images; the two-pass baseline must stay an INDEPENDENT
    implementation, so it receives the plain changelog (events only)
    and re-derives survivors by its own anti-join."""

    def _twopass(self, spark, cl, ts_list, state0, pre_lock=None):
        assert len(ts_list) == 1 and pre_lock is None
        cl = cl.filter(f"`{CHANGE_TYPE_COL}` IS NOT NULL").drop(BUCKET_COL, DEST_COL)
        return [commit_twopass(self, spark, cl, ts_list[0])]

    t.kv._commit = pytypes.MethodType(_twopass, t.kv)


def _mk_tables(spark, tmp_path, name):
    cat = Catalog(str(tmp_path / f"wh_{name}"))
    ta = create_table(cat, "db", "two_pass", _schema())
    tb = create_table(cat, "db", "single_action", _schema())
    _force_twopass(ta)
    return ta, tb


def _batch_df(spark, rows):
    """rows: list of (k, v, n, op)."""
    return spark.createDataFrame(rows, "k int, v string, n long, __op string")


def _nskey(tup):
    """None-safe sort key (v/n columns are nullable)."""
    return tuple((x is None, x) for x in tup)


def _snap(t, spark):
    return sorted(
        ((r["k"], r["v"], r["n"]) for r in t.snapshot(spark).collect()),
        key=_nskey,
    )


def _events(t, spark):
    """Changelog event multiset + per-key offset-order check."""
    rows = t.kv.log.scan(spark).select(
        BUCKET_COL, OFFSET_COL, CHANGE_TYPE_COL, TIMESTAMP_COL,
        "__seq", "__sub", "k", "v", "n",
    ).collect()
    ev = sorted(
        (
            (r[BUCKET_COL], r[OFFSET_COL], r[CHANGE_TYPE_COL], r["__seq"], r["__sub"], r["k"], r["v"], r["n"])
            for r in rows
        ),
        key=_nskey,
    )
    # per (key, commit), WAL offset order must equal (seq, sub) order —
    # the fold seq restarts every commit, so the scope is one commit
    # (distinguished by its commit timestamp, unique per test batch)
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["k"], r[TIMESTAMP_COL]), []).append(
            (r[OFFSET_COL], r["__seq"], r["__sub"])
        )
    for k, lst in by_key.items():
        lst.sort()
        assert [(s, u) for _, s, u in lst] == sorted(
            (s, u) for _, s, u in lst
        ), f"key {k}: offset order != fold order"
    return ev


def _hwm(t):
    st_ = t.catalog.current_commit(t.db, t.name)
    return {int(b): o for b, o in st_.log_hwm.items()}


def _assert_equal_state(ta, tb, spark):
    assert _snap(ta, spark) == _snap(tb, spark)
    assert _hwm(ta) == _hwm(tb)
    assert _events(ta, spark) == _events(tb, spark)


def test_commit_paths_equivalent_scripted(spark, tmp_path):
    """Fixed scenario covering the fused path's routing branches:
    inserts, updates, deletes, a commit whose only input deletes ABSENT
    keys (no change events at all -> empty WAL dir branch), and a
    commit that deletes every key of a touched bucket (snapshot side
    empty for that bucket)."""
    ta, tb = _mk_tables(spark, tmp_path, "scripted")
    ts = 1_700_000_000_000

    batches = [
        # bulk insert over all buckets
        [(k, f"v{k}", k * 10, "U") for k in range(20)],
        # mixed: updates + deletes + a new key
        [(1, "x", 111, "U"), (2, None, 222, "U"), (3, "d", 0, "D"), (99, "new", 9, "U")],
        # deletes of ABSENT keys only -> commit with zero change events
        [(1000, None, None, "D"), (1001, None, None, "D")],
        # delete every key of bucket(k=...) plus update elsewhere; also
        # re-insert a previously deleted key
        [(k, None, None, "D") for k in range(20) if k % 4 == 0]
        + [(3, "back", 33, "U")],
    ]
    for i, rows in enumerate(batches):
        df_a = _batch_df(spark, rows)
        df_b = _batch_df(spark, rows)
        ta.kv.upsert(df_a, ordering=None, commit_ts_ms=ts + i)
        tb.kv.upsert(df_b, ordering=None, commit_ts_ms=ts + i)
        _assert_equal_state(ta, tb, spark)


def test_commit_paths_equivalent_partial_update(spark, tmp_path):
    """Partial-update commits (target-column folds) through both paths."""
    ta, tb = _mk_tables(spark, tmp_path, "partial")
    ts = 1_700_000_100_000
    full = [(k, f"v{k}", k, "U") for k in range(8)]
    ta.kv.upsert(_batch_df(spark, full), commit_ts_ms=ts)
    tb.kv.upsert(_batch_df(spark, full), commit_ts_ms=ts)
    part = spark.createDataFrame([(2, 222), (3, 333), (50, 500)], "k int, n long")
    ta.kv.upsert(part, partial_update_cols=["k", "n"], commit_ts_ms=ts + 1)
    part2 = spark.createDataFrame([(2, 222), (3, 333), (50, 500)], "k int, n long")
    tb.kv.upsert(part2, partial_update_cols=["k", "n"], commit_ts_ms=ts + 1)
    _assert_equal_state(ta, tb, spark)


_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.sampled_from(["U", "D"]),
        st.sampled_from(["a", "b", None]),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(seqs=st.lists(_ops, min_size=1, max_size=3))
@pytest.mark.slow
def test_commit_paths_equivalent_property(spark_session, tmp_path_factory, seqs):
    """Random multi-commit sequences through both paths; each example
    pays full commits, so the budget is small — the scripted tests above
    cover the known branch points, this sweeps interleavings."""
    spark = spark_session
    tmp_path = tmp_path_factory.mktemp("commit_eq")
    ta, tb = _mk_tables(spark, tmp_path, "prop")
    ts = 1_700_000_200_000
    for i, seq in enumerate(seqs):
        rows = [(k, v, n, op) for (k, op, v, n) in seq]
        ta.kv.upsert(_batch_df(spark, rows), ordering=None, commit_ts_ms=ts + i)
        tb.kv.upsert(_batch_df(spark, rows), ordering=None, commit_ts_ms=ts + i)
    _assert_equal_state(ta, tb, spark)


def _state_tuple(t, spark, cols):
    """(snapshot rows, hwm, full event multiset incl. offsets) over an
    arbitrary column list — the generic form of _snap/_events for the
    partitioned / auto-increment schemas."""
    snap = sorted(
        (tuple(r[c] for c in cols) for r in t.snapshot(spark).collect()), key=_nskey
    )
    rows = (
        t.kv.log.scan(spark)
        .select(BUCKET_COL, OFFSET_COL, CHANGE_TYPE_COL, "__seq", "__sub", *cols)
        .collect()
    )
    ev = sorted(
        (
            (r[BUCKET_COL], r[OFFSET_COL], r[CHANGE_TYPE_COL], r["__seq"], r["__sub"])
            + tuple(r[c] for c in cols)
            for r in rows
        ),
        key=_nskey,
    )
    return snap, _hwm(t), ev


def test_commit_paths_equivalent_partitioned(spark, tmp_path):
    """Partitioned pk tables through both paths: same snapshots, HWMs and
    offset-exact events; the single-action snapshot layout must nest the
    partition dirs ABOVE the bucket dirs (directory pruning surface)."""
    import os

    cat = Catalog(str(tmp_path / "wh_part"))
    schema = TableSchema(
        fields=[
            Field("dt", "STRING", nullable=False),
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
        ],
        primary_key=["dt", "k"],
        partition_keys=["dt"],
        num_buckets=4,
        properties={},
    )
    ta = create_table(cat, "db", "two_pass_part", schema)
    tb = create_table(cat, "db", "single_action_part", schema)
    _force_twopass(ta)
    ts = 1_700_000_300_000

    batches = [
        # two partitions, several keys
        [("d1", k, f"v{k}", "U") for k in range(6)]
        + [("d2", k, f"w{k}", "U") for k in range(3)],
        # update in one partition + delete in the other + a NEW partition
        [("d1", 1, "x", "U"), ("d2", 0, None, "D"), ("d3", 9, "new", "U")],
        # delete every key of one partition
        [("d3", 9, None, "D")],
    ]
    for i, rows in enumerate(batches):
        for t in (ta, tb):
            df = spark.createDataFrame(rows, "dt string, k int, v string, __op string")
            t.kv.upsert(df, ordering=None, commit_ts_ms=ts + i)
        assert _state_tuple(ta, spark, ["dt", "k", "v"]) == _state_tuple(
            tb, spark, ["dt", "k", "v"]
        )

    # physical layout: partition dirs above bucket dirs on BOTH siblings
    snap_dirs = [
        e.name
        for e in os.scandir(os.path.join(tb.kv.snapshot_dir, "data-v1"))
        if e.is_dir()
    ]
    assert all(d.startswith("dt=") for d in snap_dirs) and snap_dirs
    bucket_sub = [
        e.name
        for e in os.scandir(os.path.join(tb.kv.snapshot_dir, "data-v1", snap_dirs[0]))
        if e.is_dir()
    ]
    assert all(d.startswith(f"{BUCKET_COL}=") for d in bucket_sub) and bucket_sub
    # partition filter reads back correctly through the nested layout
    got = sorted(
        (r["k"], r["v"])
        for r in tb.snapshot(spark).filter(F.col("dt") == "d1").collect()
    )
    assert got == [(0, "v0"), (1, "x"), (2, "v2"), (3, "v3"), (4, "v4"), (5, "v5")]


@pytest.mark.slow
def test_commit_paths_equivalent_auto_increment(spark, tmp_path):
    """Auto-increment pk tables through both paths: insert-stable ids
    (minted once per inserted key — KvTablet.applyInsert semantics,
    KvTablet.java:763-775), identical on every WAL event and snapshot
    row, identical counter state, dense id domain, ids carried verbatim
    through updates/before-images, re-minted only after delete +
    re-insert."""
    cat = Catalog(str(tmp_path / "wh_auto"))
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
            Field("rid", "BIGINT", auto_increment=True),
        ],
        primary_key=["k"],
        num_buckets=4,
        properties={},
    )
    ta = create_table(cat, "db", "two_pass_auto", schema)
    tb = create_table(cat, "db", "single_action_auto", schema)
    _force_twopass(ta)
    ts = 1_700_000_400_000

    batches = [
        [(k, f"v{k}", "U") for k in range(10)],
        # update an existing key + delete one + insert a new one — plus
        # an in-batch insert->update->delete->re-insert chain on key 77
        [(1, "x", "U"), (2, None, "D"), (42, "new", "U"),
         (77, "a", "U"), (77, "b", "U"), (77, None, "D"), (77, "c", "U")],
        [(k, None, "D") for k in range(0, 10, 3)],
        # re-insert a previously deleted key: a FRESH id, not the old one
        [(2, "back", "U")],
    ]
    snap_ids: list[dict[int, int]] = []
    for i, rows in enumerate(batches):
        for t in (ta, tb):
            df = spark.createDataFrame(rows, "k int, v string, __op string")
            t.kv.upsert(df, ordering=None, commit_ts_ms=ts + i)
        assert _state_tuple(ta, spark, ["k", "v", "rid"]) == _state_tuple(
            tb, spark, ["k", "v", "rid"]
        )
        st_a = ta.catalog.current_commit(ta.db, ta.name)
        st_b = tb.catalog.current_commit(tb.db, tb.name)
        assert st_a.auto_increment == st_b.auto_increment
        snap_ids.append(
            {r["k"]: r["rid"] for r in tb.snapshot(spark).select("k", "rid").collect()}
        )
    counter = tb.catalog.current_commit(tb.db, tb.name).auto_increment["rid"]

    # counter advanced once per INSERT: 10 + 1(42) + 2(77 twice) + 1(2 again)
    assert counter == 14
    # dense domain: the WAL's distinct ids are exactly [0, counter)
    wal = tb.kv.log.scan(spark).select("k", "rid", CHANGE_TYPE_COL).collect()
    assert sorted({r["rid"] for r in wal}) == list(range(counter))
    assert all(r["rid"] is not None for r in wal)
    # insert-stable: key 1's id survived its update (snapshot after
    # batch 2 == snapshot after batch 1)...
    assert snap_ids[1][1] == snap_ids[0][1]
    # ...and its -U before-image carried that same stored id
    before_1 = [r["rid"] for r in wal if r["k"] == 1 and r[CHANGE_TYPE_COL] == "-U"]
    assert before_1 == [snap_ids[0][1]]
    # delete + re-insert mints a fresh id: key 2's new id is not its old
    # one, and is the highest minted (last insert of the last commit)
    assert snap_ids[3][2] != snap_ids[0][2]
    assert snap_ids[3][2] == counter - 1
    # a key's WAL history shows exactly its incarnations' ids: key 77
    # inserted twice in one batch -> exactly 2 distinct ids ever
    assert len({r["rid"] for r in wal if r["k"] == 77}) == 2


def test_auto_increment_rejects_supplied_values_and_targets(spark, tmp_path):
    """Reference validation parity: a batch carrying the auto-increment
    column is rejected (UpsertWriterImpl.sanityCheck:107-152), as are
    partial-update target columns naming it
    (PerSchemaAutoIncrementUpdater.validateTargetColumns:101-127);
    delete frames read back from the snapshot (which carry the stored
    ids) still work — table.delete drops the engine-assigned column."""
    import pytest

    cat = Catalog(str(tmp_path / "wh_auto_val"))
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
            Field("rid", "BIGINT", auto_increment=True),
        ],
        primary_key=["k"],
        num_buckets=2,
        properties={},
    )
    t = create_table(cat, "db", "auto_val", schema)
    with pytest.raises(ValueError, match="auto-increment"):
        t.kv.upsert(spark.createDataFrame([(1, "a", 5)], "k int, v string, rid long"))
    with pytest.raises(ValueError, match="auto-increment"):
        t.kv.upsert(
            spark.createDataFrame([(1, "a")], "k int, v string"),
            partial_update_cols=["k", "rid"],
        )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    # delete_where routes full snapshot rows (incl. rid) through delete
    t.delete_where(spark, F.col("k") == 1)
    left = {r["k"]: r["rid"] for r in t.snapshot(spark).collect()}
    assert set(left) == {2}


_part_ops = st.lists(
    st.tuples(
        st.sampled_from(["d1", "d2", "d3"]),  # partition
        st.integers(min_value=0, max_value=7),  # key within partition
        st.sampled_from(["U", "D"]),
        st.sampled_from(["a", "b", None]),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(seqs=st.lists(_part_ops, min_size=1, max_size=3), cap=st.sampled_from([0, 512]))
@pytest.mark.slow
def test_commit_paths_equivalent_property_partitioned(
    spark_session, tmp_path_factory, seqs, cap, monkeypatch
):
    """Random partition-skewed commit sequences through both paths on a
    PARTITIONED pk table — sweeps the pair-granular manifest's shadow
    logic (superseded pairs in old dirs, deleted pairs, partitions
    appearing mid-stream) against the whole-bucket two-pass baseline.
    `cap=0` forces the PAIR_SCOPE_MAX fallback (bucket-only bounding,
    no pair predicate/key pruning) so both scope modes stay equivalent."""
    import fluss_spark.sources.kv as kv_mod

    spark = spark_session
    if cap == 0:
        monkeypatch.setattr(kv_mod, "PAIR_SCOPE_MAX", 0)
    tmp_path = tmp_path_factory.mktemp("commit_eq_part")
    cat = Catalog(str(tmp_path / "wh"))
    schema = TableSchema(
        fields=[
            Field("dt", "STRING", nullable=False),
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
        ],
        primary_key=["dt", "k"],
        partition_keys=["dt"],
        num_buckets=4,
        properties={},
    )
    ta = create_table(cat, "db", "two_pass_p", schema)
    tb = create_table(cat, "db", "single_action_p", schema)
    _force_twopass(ta)
    ts = 1_700_000_500_000
    for i, seq in enumerate(seqs):
        rows = [(dt, k, v, op) for (dt, k, op, v) in seq]
        for t in (ta, tb):
            df = spark.createDataFrame(rows, "dt string, k int, v string, __op string")
            t.kv.upsert(df, ordering=None, commit_ts_ms=ts + i)
        assert _state_tuple(ta, spark, ["dt", "k", "v"]) == _state_tuple(
            tb, spark, ["dt", "k", "v"]
        )


def test_sql_fold_changelog_matches_replay_fold(spark, tmp_path):
    """The default engine's one-statement SQL fold (`_fold`) and
    replay() over the same fold input (`_fold_input_sql`) feed the
    commit the same rows: two tables take the same base and batch, one
    through each fold, and their commit artifacts — WAL rows with
    offsets, timestamps, __seq / __sub, the snapshot and the HWMs — are
    equal, on every shape the gate admits: plain, WAL changelog image
    (+I -> +U shortcut + -U drop), DeleteBehavior.IGNORE (-D rows
    numbered, then dropped), an overwrite batch to a versioned table
    with WAL image, and a partitioned table (pair discovery). A partial
    update naming every column (replay's partial fold; with deletes,
    its sequential pandas fold) must commit what the SQL fold commits
    for the plain upsert."""
    shapes = {
        "plain": ({}, None, None),
        "wal": ({"table.changelog.image": "wal"}, None, None),
        "ignore": ({"table.delete.behavior": "ignore"}, None, None),
        "part": ({}, ["dt"], None),
        # merge_mode='overwrite' on a NON-default engine with WAL image:
        # the gate admits it (the fold is plain last-write-wins), but the
        # +I -> +U shortcut must NOT apply — _apply_changelog_image gates
        # on schema.merge_engine, not the effective fold engine.
        "ow_versioned_wal": (
            {
                "table.merge-engine": "versioned",
                "table.merge-engine.versioned.ver-column": "n",
                "table.changelog.image": "wal",
            },
            None,
            "overwrite",
        ),
        "partial_all_columns": ({}, None, None),
    }
    cat = Catalog(str(tmp_path / "wh"))
    ts = 1_700_000_900_000
    for name, (props, parts, mm) in shapes.items():
        fields = [
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
            Field("n", "BIGINT"),
        ]
        pk = ["k"]
        ddl = "k int, v string, n long, __op string"
        base = [(k, f"v{k}", k * 10, "U") for k in range(12)]
        batch = [
            (1, "x", 111, "U"), (1, "y", 112, "U"), (3, None, 0, "D"),
            (99, "new", 9, "U"), (4, "d4", 0, "D"), (4, "back", 44, "U"),
            (50, None, 0, "D"),
        ]
        if parts:
            fields = [Field("dt", "STRING", nullable=False)] + fields
            pk = ["dt", "k"]
            ddl = "dt string, " + ddl
            base = [("a", *r) for r in base] + [("b", *r) for r in base[:4]]
            batch = [("a", *r) for r in batch] + [("b", 2, "bx", 22, "U")]
        schema = TableSchema(
            fields=fields, primary_key=pk, partition_keys=parts or [],
            num_buckets=4, properties=dict(props),
        )
        col_names = [f.name for f in fields]
        artifacts = []
        for route in ("sql", "replay"):
            t = create_table(cat, "db", f"sqlfold_{name}_{route}", schema)
            t.kv.upsert(spark.createDataFrame(base, ddl), ordering=["n"], commit_ts_ms=ts)
            df = spark.createDataFrame(batch, ddl)
            kw = {"merge_mode": mm}
            if route == "sql":
                assert t.kv._sql_fold_ok(df, None, mm), name
            else:
                t.kv._sql_fold_ok = lambda *_a: False
                if name == "partial_all_columns":
                    kw["partial_update_cols"] = col_names
            t.kv.upsert(df, ordering=["n"], commit_ts_ms=ts + 1, **kw)
            wal = t.kv.log.scan(spark).select(
                BUCKET_COL, OFFSET_COL, CHANGE_TYPE_COL, TIMESTAMP_COL,
                "__seq", "__sub", *col_names,
            )
            snap = t.snapshot(spark).select(*col_names)
            artifacts.append((
                sorted((tuple(r) for r in wal.collect()), key=_nskey),
                sorted((tuple(r) for r in snap.collect()), key=_nskey),
                _hwm(t),
            ))
        (wal_sql, snap_sql, hwm_sql), (wal_rp, snap_rp, hwm_rp) = artifacts
        assert wal_sql == wal_rp, f"{name}: WAL differs"
        assert snap_sql == snap_rp, f"{name}: snapshot differs"
        assert hwm_sql == hwm_rp, name
