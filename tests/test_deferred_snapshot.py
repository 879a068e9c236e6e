"""Deferred snapshot materialization (table.snapshot.defer-commits=K).

With K > 1 a pk-table commit is WAL-only — the RocksDB model
(KvTablet.putAsLeader appends the WAL and absorbs the put; the periodic
snapshot, server/kv/snapshot/, is a separate checkpoint) — and every
K-th commit folds the accumulated tail into the materialized snapshot.
Reads must be EXACT throughout: snapshot()/lookup()/prefix_lookup()
merge the uncovered tail on top of the last materialized files.

The test strategy is a deferred table against an always-materialize
TWIN fed identical batches: state equality after every commit is the
whole contract, plus the physical claims (WAL-only commits write no
snapshot bytes; materialization rewrites only tail-touched units) and
the crash/TTL safety fences.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import BUCKET_COL, CHANGE_TYPE_COL, OFFSET_COL, Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk(catalog, name, defer=None, partitioned=False, autoinc=False):
    fields = [Field("k", "INT", nullable=False), Field("v", "STRING")]
    if partitioned:
        fields.insert(0, Field("dt", "STRING", nullable=False))
    if autoinc:
        fields.append(Field("rid", "BIGINT", auto_increment=True))
    props = {"table.snapshot.defer-commits": str(defer)} if defer else {}
    schema = TableSchema(
        fields=fields,
        primary_key=(["dt", "k"] if partitioned else ["k"]),
        partition_keys=(["dt"] if partitioned else []),
        num_buckets=4,
        properties=props,
    )
    return create_table(catalog, "db", name, schema)


def _snap(t, spark, cols=("k", "v")):
    return sorted(
        tuple(r[c] for c in cols) for r in t.snapshot(spark).collect()
    )


def _events(t, spark, cols=("k", "v")):
    rows = (
        t.kv.log.scan(spark)
        .select(BUCKET_COL, OFFSET_COL, CHANGE_TYPE_COL, *cols)
        .collect()
    )
    return sorted(
        (r[BUCKET_COL], r[OFFSET_COL], r[CHANGE_TYPE_COL]) + tuple(r[c] for c in cols)
        for r in rows
    )


def _snapshot_dirs(t):
    d = t.kv.snapshot_dir
    if not os.path.isdir(d):
        return set()
    return {e.name for e in os.scandir(d) if e.is_dir()}


@pytest.mark.slow
def test_deferred_matches_eager_every_commit(spark, catalog):
    """K=3 over mixed upsert/delete batches: the deferred table's
    snapshot, WAL multiset, and lookups equal the always-materialize
    twin after EVERY commit, while WAL-only commits add zero snapshot
    dirs and snapshot_version lags by design."""
    td = _mk(catalog, "defer", defer=3)
    te = _mk(catalog, "eager")
    batches = [
        [(k, f"a{k}", "U") for k in range(8)],
        [(1, "b1", "U"), (2, None, "D"), (20, "new", "U")],
        [(3, "c3", "U"), (20, None, "D")],
        [(k, f"d{k}", "U") for k in range(4, 12)],
        [(5, None, "D"), (5, "back", "U")],
    ]
    ts = 1_700_001_000_000
    lagged = 0
    for i, rows in enumerate(batches):
        dirs_before = _snapshot_dirs(td)
        for t in (td, te):
            t.upsert(
                spark.createDataFrame(rows, "k int, v string, __op string"),
                commit_ts_ms=ts + i,
            )
        st = catalog.current_commit("db", "defer")
        if st.snapshot_version < st.version:
            lagged += 1
            # WAL-only commit: no snapshot bytes written
            assert _snapshot_dirs(td) == dirs_before
        assert _snap(td, spark) == _snap(te, spark)
        assert _events(td, spark) == _events(te, spark)
        # point lookup through the tail
        got = td.lookup(spark, {"k": 1}).collect()
        want = te.lookup(spark, {"k": 1}).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert lagged >= 2  # deferral actually happened
    # far fewer snapshot rewrites than commits
    assert len(_snapshot_dirs(td)) < len(_snapshot_dirs(te))


@pytest.mark.slow
def test_deferred_auto_increment_ids_stable(spark, catalog):
    """Insert-stable ids across the WAL-only window: a key inserted in
    a deferred commit keeps its id through updates in later deferred
    commits and through the materialization boundary."""
    t = _mk(catalog, "defer_auto", defer=3, autoinc=True)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    id1 = {r["k"]: r["rid"] for r in t.snapshot(spark).collect()}
    t.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], "k int, v string"))
    id2 = {r["k"]: r["rid"] for r in t.snapshot(spark).collect()}
    assert id2[1] == id1[1] and id2[2] == id1[2]
    # third commit triggers materialization; ids unchanged
    t.upsert(spark.createDataFrame([(2, "b2")], "k int, v string"))
    st = catalog.current_commit("db", "defer_auto")
    assert st.snapshot_version == st.version  # materialized
    id3 = {r["k"]: r["rid"] for r in t.snapshot(spark).collect()}
    assert id3 == {**id2, 2: id2[2]}
    assert sorted(id3.values()) == [0, 1, 2]
    assert st.auto_increment["rid"] == 3


@pytest.mark.slow
def test_deferred_partitioned_rewrites_touched_pairs_only(spark, catalog):
    """Partitioned deferral: the materialization's data dir holds ONLY
    the (partition, bucket) pairs the tail touched; untouched partitions
    keep their old manifest entries, and partition-filtered reads stay
    exact through the tail."""
    t = _mk(catalog, "defer_part", defer=2, partitioned=True)
    seed = [("d1", k, f"a{k}", "U") for k in range(6)] + [
        ("d2", k, f"b{k}", "U") for k in range(6)
    ]
    t.upsert(spark.createDataFrame(seed, "dt string, k int, v string, __op string"))
    t.upsert(
        spark.createDataFrame(
            [("d1", 1, "x", "U")], "dt string, k int, v string, __op string"
        )
    )  # 2nd commit -> materializes; tail touched d1 only... plus seed commit
    st = catalog.current_commit("db", "defer_part")
    assert st.snapshot_version == st.version
    # next window: touch only d2
    t.upsert(
        spark.createDataFrame(
            [("d2", 0, "y", "U")], "dt string, k int, v string, __op string"
        )
    )
    assert (
        sorted(
            (r["k"], r["v"])
            for r in t.snapshot(spark).filter(F.col("dt") == "d2").collect()
        )
        == [(0, "y")] + [(k, f"b{k}") for k in range(1, 6)]
    )
    t.upsert(
        spark.createDataFrame(
            [("d2", 1, "z", "U")], "dt string, k int, v string, __op string"
        )
    )
    st = catalog.current_commit("db", "defer_part")
    assert st.snapshot_version == st.version
    newest = f"data-v{st.snapshot_version}"
    pairs = t.kv._walk_pairs(os.path.join(t.kv.snapshot_dir, newest))
    assert {pp for pp, _b in pairs} == {"dt=d2"}  # d1 untouched by this window
    assert sorted(
        (r["dt"], r["k"], r["v"]) for r in t.snapshot(spark).collect()
    ) == sorted(
        [("d1", 1, "x")]
        + [("d1", k, f"a{k}") for k in range(6) if k != 1]
        + [("d2", 0, "y"), ("d2", 1, "z")]
        + [("d2", k, f"b{k}") for k in range(2, 6)]
    )


def test_deferred_time_travel_wal_only_version(spark, catalog):
    """snapshot(version=V) for a WAL-only V folds the offset-bounded
    slice onto the nearest older manifest — the state as of that commit,
    not empty and not the current state."""
    t = _mk(catalog, "defer_tt", defer=4)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))  # v1
    t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"))  # v2
    t.upsert(
        spark.createDataFrame([(2, None, "D")], "k int, v string, __op string")
    )  # v3
    assert sorted(
        (r["k"], r["v"]) for r in t.kv.snapshot(spark, version=1).collect()
    ) == [(1, "a"), (2, "b")]
    assert sorted(
        (r["k"], r["v"]) for r in t.kv.snapshot(spark, version=2).collect()
    ) == [(1, "a2"), (2, "b")]
    assert sorted(
        (r["k"], r["v"]) for r in t.kv.snapshot(spark, version=3).collect()
    ) == [(1, "a2")]
    with pytest.raises(ValueError, match="no such commit"):
        t.kv.snapshot(spark, version=99)


def test_deferred_time_travel_fails_loudly_on_expired_slice(spark, catalog):
    """Time travel to a WAL-only version whose changelog slice was
    TTL-trimmed must raise, never silently fold a partial state."""
    from fluss_spark import maintenance as mnt

    t = _mk(catalog, "defer_tt_ttl", defer=10)
    sch = catalog.get_schema("db", "defer_tt_ttl")
    sch.properties["table.log.ttl"] = "1ms"
    catalog.set_schema("db", "defer_tt_ttl", sch)
    t = FlussTable(catalog, "db", "defer_tt_ttl")
    ts = 1_600_000_000_000
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"), commit_ts_ms=ts)  # v1
    t.kv.materialize(spark)  # v2 covers v1
    t.upsert(spark.createDataFrame([(2, "b")], "k int, v string"), commit_ts_ms=ts)  # v3 WAL-only
    t.upsert(spark.createDataFrame([(3, "c")], "k int, v string"), commit_ts_ms=ts)  # v4 WAL-only
    t.kv.materialize(spark)  # v5 covers v3/v4
    assert mnt.expire_log_ttl(t, spark) >= 2  # v1 + v3 at least trimmed
    # v4's slice from manifest v2 needs the trimmed v3 commit
    with pytest.raises(ValueError, match="expired"):
        t.kv.snapshot(spark, version=4).collect()
    # current state and materialized versions remain exact
    assert _snap(t, spark) == [(1, "a"), (2, "b"), (3, "c")]
    assert sorted(
        (r["k"], r["v"]) for r in t.kv.snapshot(spark, version=2).collect()
    ) == [(1, "a")]


def test_deferred_time_travel_refuses_a_version_before_a_rebucket(spark, catalog):
    """A rebucket rewrites the changelog in the new bucket layout, so a
    WAL-only version from before it has no tail left to fold: time
    travel there must raise, never return the manifest alone or fold
    new-layout offsets onto it."""
    from fluss_spark import maintenance as mnt

    t = _mk(catalog, "defer_tt_rebucket", defer=10)
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))  # v1
    t.kv.materialize(spark)  # v2
    s3 = t.upsert(spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string"))  # v3 WAL-only
    mnt.rebucket_table(t, spark, 8)
    t = FlussTable(catalog, "db", "defer_tt_rebucket")
    with pytest.raises(ValueError, match="rebucketed"):
        t.kv.snapshot(spark, version=s3.version).collect()
    # the current state reads whole, also pinned at its own version
    want = [(1, "a"), (2, "b"), (3, "c")]
    assert _snap(t, spark) == want
    cur = catalog.current_commit("db", "defer_tt_rebucket").version
    assert sorted((r["k"], r["v"]) for r in t.kv.snapshot(spark, version=cur).collect()) == want


def test_materialize_crash_recovery(spark, catalog, monkeypatch):
    """Crash between the materialization's data-dir write and its
    manifest/CURRENT advance: nothing is visible, reads stay correct off
    the old manifest + tail, and the retried materialization overwrites
    the orphan dir and completes."""
    t = _mk(catalog, "defer_crash", defer=10)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"))
    want = [(1, "a2"), (2, "b")]
    assert _snap(t, spark) == want

    real = type(t.kv)._write_manifest
    calls = {"n": 0}

    def boom(self, *a, **kw):
        calls["n"] += 1
        raise RuntimeError("crash before manifest write")

    monkeypatch.setattr(type(t.kv), "_write_manifest", boom)
    with pytest.raises(RuntimeError):
        t.kv.materialize(spark)
    assert calls["n"] == 1
    st = catalog.current_commit("db", "defer_crash")
    assert st.snapshot_version == -1  # commit never advanced
    assert _snap(t, spark) == want  # reads off WAL tail still exact
    monkeypatch.setattr(type(t.kv), "_write_manifest", real)
    st = t.kv.materialize(spark)
    assert st.snapshot_version == st.version
    assert _snap(t, spark) == want
    # orphan dir from the crashed attempt was overwritten, not leaked:
    # the committed manifest references the same data dir name
    assert f"data-v{st.version}" in _snapshot_dirs(t)


def test_ttl_never_expires_uncovered_wal(spark, catalog):
    """W5 x deferral: commits above snapshot_version are the only copy
    of their rows — TTL must skip them no matter how old, and may trim
    them only once a materialization covers them."""
    from fluss_spark import maintenance as mnt

    t = _mk(catalog, "defer_ttl", defer=10)
    sch = catalog.get_schema("db", "defer_ttl")
    sch.properties["table.log.ttl"] = "1ms"
    catalog.set_schema("db", "defer_ttl", sch)
    t = FlussTable(catalog, "db", "defer_ttl")
    ts = 1_600_000_000_000  # far past -> everything beyond TTL age
    t.upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        commit_ts_ms=ts,
    )
    t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"), commit_ts_ms=ts)
    assert mnt.expire_log_ttl(t, spark) == 0  # fence: nothing covered yet
    assert _snap(t, spark) == [(1, "a2"), (2, "b")]
    t.kv.materialize(spark)
    # now covered (and the materialization bumped version past both WAL
    # dirs): TTL may trim them; the state lives on in the snapshot
    assert mnt.expire_log_ttl(t, spark) == 2
    assert _snap(t, spark) == [(1, "a2"), (2, "b")]


def test_defer_revert_materializes_before_fused_commit(spark, catalog):
    """Dropping the property with a tail pending must fold the tail
    before the next fused commit — otherwise the advanced
    snapshot_version would strand the tail's other buckets."""
    t = _mk(catalog, "defer_revert", defer=5)
    t.upsert(spark.createDataFrame([(k, f"a{k}") for k in range(8)], "k int, v string"))
    t.upsert(spark.createDataFrame([(1, "b1")], "k int, v string"))
    sch = catalog.get_schema("db", "defer_revert")
    del sch.properties["table.snapshot.defer-commits"]
    catalog.set_schema("db", "defer_revert", sch)
    t = FlussTable(catalog, "db", "defer_revert")
    t.upsert(spark.createDataFrame([(2, "c2")], "k int, v string"))
    st = catalog.current_commit("db", "defer_revert")
    assert st.snapshot_version == st.version
    assert _snap(t, spark) == sorted(
        [(1, "b1"), (2, "c2")] + [(k, f"a{k}") for k in range(8) if k not in (1, 2)]
    )


_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.sampled_from(["U", "D"]),
        st.sampled_from(["a", "b", None]),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(seqs=st.lists(_ops, min_size=1, max_size=5), k=st.sampled_from([2, 3]))
@pytest.mark.slow
def test_deferred_matches_eager_property(spark_session, tmp_path_factory, seqs, k):
    """Random mixed upsert/delete commit sequences at K in {2, 3}: the
    deferred table equals the always-materialize twin — snapshot rows
    AND the full (bucket, offset, change-type) WAL multiset — after
    every commit, across materialization boundaries in arbitrary
    positions."""
    spark = spark_session
    tmp = tmp_path_factory.mktemp("defer_prop")
    cat = Catalog(str(tmp / "wh"))
    td = _mk(cat, "d", defer=k)
    te = _mk(cat, "e")
    ts = 1_700_002_000_000
    for i, seq in enumerate(seqs):
        rows = [(key, v, op) for (key, op, v) in seq]
        for t in (td, te):
            t.upsert(
                spark.createDataFrame(rows, "k int, v string, __op string"),
                ordering=None,
                commit_ts_ms=ts + i,
            )
        assert _snap(td, spark) == _snap(te, spark)
        assert _events(td, spark) == _events(te, spark)


def _bucket_of_keys(t, spark):
    rows = t.kv.log.scan(spark).select("k", BUCKET_COL).distinct().collect()
    return {r["k"]: r[BUCKET_COL] for r in rows}


@pytest.mark.parametrize("defer", [None, 3])
def test_fully_deleted_bucket_leaves_manifest(spark, catalog, defer):
    """A bucket whose EVERY key is deleted (in the eager commit's batch,
    or in the deferred tail at materialization) must lose its manifest
    entry on the UNPARTITIONED path too — the new data dir wrote no
    files for it, so a dangling entry would point a pruned read at a
    dir with nothing to prune against."""
    name = f"delbkt_{'d' if defer else 'e'}"
    t = _mk(catalog, name, defer=defer)
    t.upsert(
        spark.createDataFrame([(k, f"a{k}") for k in range(16)], "k int, v string")
    )
    kb = _bucket_of_keys(t, spark)
    victim = kb[0]
    dead = sorted(k for k, b in kb.items() if b == victim)
    live = next(k for k, b in kb.items() if b != victim)
    assert dead and live is not None
    # delete every key of the victim bucket + touch one other bucket
    t.upsert(
        spark.createDataFrame(
            [(k, None, "D") for k in dead] + [(live, "upd", "U")],
            "k int, v string, __op string",
        )
    )
    if defer:
        # force the fold of the pending tail through materialize()
        t.kv.materialize(spark)
    st = catalog.current_commit("db", name)
    assert st.snapshot_version == st.version
    manifest = t.kv._manifest(st.snapshot_version)
    assert victim not in manifest, (victim, manifest)
    # and the surviving buckets still read correctly
    assert _snap(t, spark) == sorted(
        (k, "upd" if k == live else f"a{k}") for k in range(16) if k not in dead
    )
    # dead keys miss on the keyed fast path too
    assert t.lookup(spark, {"k": dead[0]}).count() == 0


def test_stream_crash_across_materialization_window(spark, catalog, tmp_path):
    """A streaming consumer that crashes between processing a batch and
    committing its checkpoint must be redelivered EXACTLY the same
    offset range by a fresh reader — even when a snapshot
    materialization lands inside the crash window (materialize() moves
    no log offsets, so the redelivery reads the same WAL slice; the
    reference analog is a Flink recovery while the KV snapshot
    checkpoint advances independently of the consumed log splits)."""
    from fluss_spark.streaming.reader import LogStreamReader

    t = _mk(catalog, "stream_mat", defer=10)  # manual materialization
    ckpt = str(tmp_path / "ckpt")

    def rows(tag, ks):
        return spark.createDataFrame(
            [(k, f"{tag}{k}") for k in ks], "k int, v string"
        )

    t.upsert(rows("a", range(8)))
    t.upsert(rows("b", range(4, 12)))
    st = catalog.current_commit("db", "stream_mat")
    assert st.snapshot_version < st.version  # tail pending at subscribe

    r1 = LogStreamReader(t, spark, checkpoint_dir=ckpt, startup_mode="full")
    b0, bid0 = r1.poll()
    assert bid0 == 0
    # batch 0 = tail-folded state: b-values win on the overlap
    assert sorted((r["k"], r["v"]) for r in b0.collect()) == sorted(
        [(k, f"a{k}") for k in range(4)] + [(k, f"b{k}") for k in range(4, 12)]
    )
    r1.commit_batch()

    t.upsert(rows("c", range(10, 16)))  # WAL-only
    b1, bid1 = r1.poll()
    delivered = sorted(
        (r["k"], r["v"], r[CHANGE_TYPE_COL], r[OFFSET_COL]) for r in b1.collect()
    )
    assert delivered  # the batch really carried the new commit
    # CRASH: r1 never commits. A materialization lands in the window.
    del r1
    t.kv.materialize(spark)
    st = catalog.current_commit("db", "stream_mat")
    assert st.snapshot_version == st.version

    r2 = LogStreamReader(t, spark, checkpoint_dir=ckpt, startup_mode="full")
    b1r, bid1r = r2.poll()
    assert bid1r == bid1  # same batch id: batch-id-keyed idempotence
    assert (
        sorted(
            (r["k"], r["v"], r[CHANGE_TYPE_COL], r[OFFSET_COL])
            for r in b1r.collect()
        )
        == delivered
    )
    r2.commit_batch()
    # post-recovery commits keep flowing from the right offsets
    t.upsert(rows("d", [0]))
    b2, _ = r2.poll()
    assert [(r["k"], r["v"]) for r in b2.collect() if r[CHANGE_TYPE_COL] == "+U"] == [
        (0, "d0")
    ]
    r2.commit_batch()
    assert r2.poll() is None


def test_tail_bytes_threshold_triggers_early(spark, catalog):
    """table.snapshot.defer-max-tail-bytes: a tiny limit forces
    materialization on the first deferred commit even though the
    commit cadence (K=100) is nowhere near."""
    t = _mk(catalog, "defer_bytes", defer=100)
    sch = catalog.get_schema("db", "defer_bytes")
    sch.properties["table.snapshot.defer-max-tail-bytes"] = "1"
    catalog.set_schema("db", "defer_bytes", sch)
    t = FlussTable(catalog, "db", "defer_bytes")
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
    st = catalog.current_commit("db", "defer_bytes")
    assert st.snapshot_version == st.version  # threshold fired
    assert _snap(t, spark) == [(1, "a")]


@pytest.mark.slow
def test_deferred_merge_engines_match_eager(spark, catalog):
    """Every merge engine through the deferred path: the hybrid read's
    'last event per key' fold is engine-agnostic BECAUSE the changelog
    is authoritative (the replay invariant) — versioned out-of-order
    drops, aggregation accumulation, and first_row resistance must all
    survive WAL-only commits and the materialization boundary."""
    cases = {
        "versioned": (
            {"table.merge-engine": "versioned",
             "table.merge-engine.versioned.ver-column": "ver"},
            "k int, v string, ver bigint",
            [
                [(1, "a", 5), (2, "b", 3)],
                [(1, "old", 2), (2, "new", 7)],  # k=1 dropped (older ver)
                [(1, "newest", 9)],
            ],
            [(1, "newest", 9), (2, "new", 7)],
        ),
        "aggregation": (
            {"table.merge-engine": "aggregation"},
            "k int, v bigint",
            [[(1, 10), (2, 1)], [(1, 5)], [(1, 2), (2, 3)]],
            [(1, 17), (2, 4)],
        ),
        "first_row": (
            {"table.merge-engine": "first_row"},
            "k int, v string",
            [[(1, "first")], [(1, "second"), (2, "x")], [(2, "y")]],
            [(1, "first"), (2, "x")],
        ),
    }
    for name, (props, ddl, batches, want) in cases.items():
        fields = []
        for part in ddl.split(","):
            col, typ = part.strip().split(" ")
            agg = "sum" if (name == "aggregation" and col != "k") else None
            fields.append(Field(col, typ.upper(), nullable=(col != "k"), agg=agg))
        td = create_table(
            catalog, "db", f"defer_me_{name}",
            TableSchema(fields=fields, primary_key=["k"], num_buckets=4,
                        properties={**props, "table.snapshot.defer-commits": "2"}),
        )
        te = create_table(
            catalog, "db", f"eager_me_{name}",
            TableSchema(fields=fields, primary_key=["k"], num_buckets=4,
                        properties=dict(props)),
        )
        cols = tuple(f.name for f in fields)
        for i, rows in enumerate(batches):
            for t in (td, te):
                t.upsert(spark.createDataFrame(rows, ddl), commit_ts_ms=1_700_003_000_000 + i)
            assert _snap(td, spark, cols=cols) == _snap(te, spark, cols=cols), name
        assert _snap(td, spark, cols=cols) == sorted(want), name


def test_deferred_rename_column_era_projection(spark, catalog):
    """Schema evolution x deferral: a RENAME between deferred commits
    must project era-old WAL files onto the new name both in the hybrid
    tail fold and in the materialized rewrite."""
    from fluss_spark.admin import Admin, RenameColumn

    t = _mk(catalog, "defer_rn", defer=4)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    Admin(catalog).alter_table("db", "defer_rn", [RenameColumn("v", "label")])
    t = FlussTable(catalog, "db", "defer_rn")  # reopen under new schema
    t.upsert(spark.createDataFrame([(2, "b2"), (3, "c")], "k int, label string"))
    want = [(1, "a"), (2, "b2"), (3, "c")]
    assert _snap(t, spark, cols=("k", "label")) == want  # hybrid fold
    st = t.kv.materialize(spark)
    assert st.snapshot_version == st.version
    assert _snap(t, spark, cols=("k", "label")) == want  # materialized


def test_deferred_base_secondary_index(spark, catalog):
    """A secondary index on a deferred base: the bootstrap seed comes
    from the hybrid snapshot (tail included), and syncs fold the WAL
    slice exactly as on an eager base."""
    from fluss_spark import indexes as ix

    t = _mk(catalog, "defer_idx", defer=4)
    t.upsert(spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string"))
    idx = ix.create_index(catalog, "db", "defer_idx", "v", spark)
    assert sorted(
        (r["v"], r["k"]) for r in idx.snapshot(spark).collect()
    ) == [("x", 1), ("y", 2)]
    t.upsert(spark.createDataFrame([(1, "z")], "k int, v string"))
    ix.sync_index(catalog, "db", "defer_idx", "v", spark)
    idx = FlussTable(catalog, "db", ix.index_table_name("defer_idx", "v"))
    assert sorted(
        (r["v"], r["k"]) for r in idx.snapshot(spark).collect()
    ) == [("y", 2), ("z", 1)]


def test_deferred_minmax_metadata_refuses_stale_footers(spark, catalog):
    """A2 footer stats must refuse to answer while a WAL tail is
    pending (the footers don't cover it) and serve again once
    materialized."""
    t = _mk(catalog, "defer_stats", defer=10)
    t.upsert(spark.createDataFrame([(1, "a"), (5, "b")], "k int, v string"))
    assert t.kv.minmax_from_metadata("k") is None  # tail pending
    t.kv.materialize(spark)
    assert t.kv.minmax_from_metadata("k") == (1, 5)
    t.upsert(spark.createDataFrame([(9, "c")], "k int, v string"))
    assert t.kv.minmax_from_metadata("k") is None  # new tail
    t.kv.materialize(spark)
    assert t.kv.minmax_from_metadata("k") == (1, 9)


def test_call_materialize_snapshot(spark, catalog):
    """CALL sys.materialize_snapshot folds the tail on demand."""
    from fluss_spark.sql_ddl import FlussSqlSession

    _mk(catalog, "defer_call", defer=10)
    sql = FlussSqlSession(catalog, spark, default_db="db")
    spark.createDataFrame([(1, "a")], "k int, v string").createOrReplaceTempView(
        "defer_src"
    )
    sql.sql("INSERT INTO db.defer_call SELECT * FROM defer_src")
    st = catalog.current_commit("db", "defer_call")
    assert st.snapshot_version < st.version
    out = sql.sql("CALL sys.materialize_snapshot(`db`.`defer_call`)").collect()
    st = catalog.current_commit("db", "defer_call")
    assert st.snapshot_version == st.version
    assert out and f"snapshot_version={st.snapshot_version}" in out[0][0]


@pytest.mark.parametrize("deletes", [False, True])
def test_deferred_partial_updates_match_eager(spark, catalog, deletes):
    """Partial updates through WAL-only commits: the deferred table
    equals its always-materialize twin after EVERY commit, in snapshot
    rows and in the (bucket, offset, change-type, row) WAL multiset. A
    batch that mixes partial updates with deletes folds through
    replay_exact (the sequential fold); without deletes it takes the
    window fold."""
    fields = [Field("k", "INT", nullable=False), Field("a", "STRING"), Field("b", "STRING")]
    td, te = (
        create_table(
            catalog, "db", f"pu_{name}_{int(deletes)}",
            TableSchema(fields=fields, primary_key=["k"], num_buckets=4, properties=props),
        )
        for name, props in (("defer", {"table.snapshot.defer-commits": "3"}), ("eager", {}))
    )
    full = "k int, a string, b string"
    part = "k int, a string, __op string" if deletes else "k int, a string"
    op = (lambda o: (o,)) if deletes else (lambda o: ())
    steps = [
        (full, [(k, f"a{k}", f"b{k}") for k in range(8)], None),
        (part, [(1, "a1x", *op("U")), (9, "a9", *op("U"))], ["k", "a"]),
        (part, [(2, None, *op("D" if deletes else "U")), (3, "a3x", *op("U"))], ["k", "a"]),
        (full, [(4, "a4y", "b4y"), (10, "a10", "b10")], None),
        # key 9 holds only `a`: retracting it deletes the row
        (part, [(1, None, *op("D" if deletes else "U")), (4, "a4z", *op("U")),
                (9, None, *op("D" if deletes else "U"))], ["k", "a"]),
    ]
    cols = ("k", "a", "b")
    for i, (ddl, rows, targets) in enumerate(steps):
        for t in (td, te):
            t.upsert(
                spark.createDataFrame(rows, ddl),
                partial_update_cols=targets,
                commit_ts_ms=1_700_004_000_000 + i,
            )
        assert _snap(td, spark, cols) == _snap(te, spark, cols), i
        assert _events(td, spark, cols) == _events(te, spark, cols), i
    st = catalog.current_commit("db", td.name)
    assert st.snapshot_version < st.version  # the last commits stayed WAL-only


def test_deferred_commit_is_one_write_job(spark, catalog):
    """A deferred commit that does not materialize is the fused commit
    writing only its WAL sibling: with the batch's buckets known and no
    auto-increment ids to pack, it runs exactly ONE Spark job (the write
    action) and adds no snapshot dir."""
    import uuid

    t = _mk(catalog, "defer_jobs", defer=3)
    for i in range(3):  # the third commit materializes
        t.kv.upsert(spark.createDataFrame([(k, f"v{i}") for k in range(12)], "k int, v string"))
    st = catalog.current_commit("db", "defer_jobs")
    assert st.snapshot_version == st.version
    dirs_before = _snapshot_dirs(t)
    sc = spark.sparkContext
    group = f"defer-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "deferred commit probe")
    try:
        st = t.kv.upsert(
            spark.createDataFrame([(1, "x"), (13, "y")], "k int, v string"),
            batch_buckets=list(range(4)),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert st.snapshot_version < st.version  # WAL-only
    assert _snapshot_dirs(t) == dirs_before
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert dict(_snap(t, spark))[1] == "x" and dict(_snap(t, spark))[13] == "y"


def _crash_at_catalog_commit(monkeypatch):
    """Make the next CURRENT advance fail, as a writer that dies right
    before it: everything the op wrote stays on disk above CURRENT."""

    def boom(self, db, table, *states):
        raise RuntimeError("simulated crash at catalog commit")

    monkeypatch.setattr(Catalog, "commit", boom)


def test_crashed_materialize_leaves_no_stale_time_travel(spark, catalog, monkeypatch):
    """A materialize that dies at its CURRENT advance leaves its manifest
    and data dir numbered CURRENT+1. The next commit takes that number;
    time travel to it must read the new commit, not the dead manifest,
    and snapshot expiry must not count the dead manifest among the
    newest ones it keeps."""
    from fluss_spark import maintenance as mnt

    t = _mk(catalog, "defer_stale", defer=10)
    up = lambda rows: t.upsert(spark.createDataFrame(rows, "k int, v string"))  # noqa: E731
    up([(1, "a"), (2, "b")])  # v1
    t.kv.materialize(spark)  # v2: manifest v2
    up([(1, "a2")])  # v3
    t.kv.materialize(spark)  # v4: manifest v4
    up([(3, "c"), (2, "b2")])  # v5
    _crash_at_catalog_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.kv.materialize(spark)
    monkeypatch.undo()
    assert catalog.current_commit("db", "defer_stale").version == 5
    assert os.path.exists(os.path.join(t.kv.manifest_dir, "v6.json"))
    assert "data-v6" in _snapshot_dirs(t)

    up([(4, "d")])  # WAL-only, commits v6
    want = [(1, "a2"), (2, "b2"), (3, "c"), (4, "d")]
    assert _snap(t, spark) == want
    at = lambda v: sorted((r["k"], r["v"]) for r in t.kv.snapshot(spark, version=v).collect())  # noqa: E731
    assert at(6) == want
    assert at(5) == [(1, "a2"), (2, "b2"), (3, "c")]
    up([(5, "e")])  # v7
    assert at(7) == want + [(5, "e")]
    assert at(6) == want

    # keep the newest two manifests: v4 and v2, nothing else on disk
    mnt.expire_snapshots(t, keep=2)
    assert sorted(os.listdir(t.kv.manifest_dir)) == ["v2.json", "v4.json"]
    assert at(2) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("route", ["api", "sql"])
def test_uncommitted_upsert_never_reaches_the_changelog(spark, catalog, monkeypatch, route):
    """An upsert that dies at its CURRENT advance has already moved its
    WAL into log/__commit=2. A standalone materialize (API or `CALL
    sys.materialize_snapshot`) then commits v2 itself: the dead WAL must
    be gone by then, or its rows turn into committed changes."""
    from fluss_spark.sql_ddl import FlussSqlSession

    t = _mk(catalog, f"ghost_{route}", defer=10)
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    _crash_at_catalog_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.upsert(spark.createDataFrame([(9, "ghost")], "k int, v string"))
    monkeypatch.undo()
    assert os.path.isdir(t.log.commit_path(2))

    if route == "api":
        st = t.kv.materialize(spark)
    else:
        FlussSqlSession(catalog, spark, default_db="db").sql(
            f"CALL sys.materialize_snapshot(`db`.`ghost_{route}`)"
        ).collect()
        st = catalog.current_commit("db", f"ghost_{route}")
    assert st.version == 2 and st.snapshot_version == 2
    assert _snap(t, spark) == [(1, "a"), (2, "b")]
    changes = sorted((r["k"], r["v"], r[CHANGE_TYPE_COL]) for r in t.changelog(spark).collect())
    assert changes == [(1, "a", "+I"), (2, "b", "+I")]


@pytest.mark.parametrize("partitioned", [False, True])
def test_lookup_before_first_materialization_reads_the_bucket(spark, catalog, partitioned):
    """A deferred table with no manifest yet answers a lookup like any
    other: an empty base plus the key's bucket slice of the WAL tail,
    not a filter over the whole merged snapshot. Pins the Spark jobs
    and tasks one lookup runs (8 buckets, two WAL-only commits), the
    same with and without partitions."""
    import uuid

    fields = [Field("k", "INT", nullable=False), Field("v", "STRING")]
    if partitioned:
        fields.insert(0, Field("dt", "STRING", nullable=False))
    t = create_table(
        catalog, "db", f"defer_lk_{partitioned}",
        TableSchema(
            fields=fields,
            primary_key=["dt", "k"] if partitioned else ["k"],
            partition_keys=["dt"] if partitioned else [],
            num_buckets=8,
            properties={"table.snapshot.defer-commits": "8"},
        ),
    )
    row = (lambda k, v: ("d1", k, v)) if partitioned else (lambda k, v: (k, v))
    ddl = "dt string, k int, v string" if partitioned else "k int, v string"
    t.upsert(spark.createDataFrame([row(k, f"a{k}") for k in range(20)], ddl))
    t.upsert(spark.createDataFrame([row(k, f"b{k}") for k in range(0, 20, 3)], ddl))
    st = catalog.current_commit("db", t.name)
    assert st.snapshot_version == -1 and st.version == 2
    key = {"dt": "d1", "k": 6} if partitioned else {"k": 6}

    sc = spark.sparkContext
    group = f"defer-lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "deferred lookup probe")
    try:
        got = [tuple(r) for r in t.lookup(spark, key).collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds
    )
    assert got == [row(6, "b6")]
    assert t.lookup(spark, dict(key, k=99)).collect() == []
    assert (len(jobs), tasks) == (2, 5)


def test_time_travel_to_deferred_version_skips_later_buckets(spark, catalog):
    """A WAL-only version's HWM map names only the buckets that held
    rows then. Rows a later commit writes to a bucket that was still
    empty must not leak into time travel to that version."""
    t = _mk(catalog, "defer_tt_buckets", defer=10)
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))  # v1: one bucket
    first = catalog.current_commit("db", "defer_tt_buckets").log_hwm
    later = [k for k in range(2, 40) if str(_bucket(spark, k)) not in first][:3]
    assert later
    t.upsert(spark.createDataFrame([(k, "b") for k in later], "k int, v string"))  # v2
    got = sorted((r["k"], r["v"]) for r in t.kv.snapshot(spark, version=1).collect())
    assert got == [(1, "a")]


def _bucket(spark, k, n=4):
    return spark.sql(f"SELECT pmod(hash(CAST({k} AS INT)), {n})").first()[0]


@pytest.mark.slow
def test_deferred_spray_writes_fewer_snapshot_bytes(spark, catalog):
    """Small commits that spray keys over every bucket: with per-commit
    materialization each one rewrites the whole table, with K=4 deferral
    about every fourth does. Over 12 commits (plus a final flush) the
    deferred table writes at least 2x fewer snapshot bytes, and both
    twins end with identical scans."""
    n_commits, seed_rows, batch_rows = 12, 4000, 400

    def tree_bytes(root):
        return sum(
            os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(root) for f in fs
        )

    def spray(i):  # stride the key space so every commit touches every bucket
        return spark.range(batch_rows).select(
            ((F.col("id") * n_commits + i) % seed_rows).cast("int").alias("k"),
            F.concat(F.lit(f"c{i}-"), F.col("id").cast("string")).alias("v"),
        )

    written, snaps = {}, {}
    for name, props in (("spray_eager", {}), ("spray_defer", {"table.snapshot.defer-commits": "4"})):
        t = create_table(
            catalog, "db", name,
            TableSchema(
                fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
                primary_key=["k"], num_buckets=16, properties=props,
            ),
        )
        t.upsert(
            spark.range(seed_rows).select(
                F.col("id").cast("int").alias("k"), F.concat(F.lit("seed-"), F.col("id")).alias("v")
            ),
            ordering=["k"],
        )
        total = 0
        for i in range(n_commits):
            before = tree_bytes(t.kv.snapshot_dir)
            t.upsert(spray(i), ordering=["k"])
            total += max(0, tree_bytes(t.kv.snapshot_dir) - before)
        before = tree_bytes(t.kv.snapshot_dir)
        t.kv.materialize(spark)  # flush a pending tail: both twins fully materialized
        written[name] = total + max(0, tree_bytes(t.kv.snapshot_dir) - before)
        snaps[name] = sorted(tuple(r) for r in t.snapshot(spark).collect())
    assert snaps["spray_eager"] == snaps["spray_defer"]
    assert written["spray_eager"] >= 2 * written["spray_defer"], written
